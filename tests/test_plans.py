"""Physical-plan regression guards: the optimizations the engine relies on
(predicate pushdown to parquet, column pruning, broadcast of dimension
tables, no shuffle where none is needed) must stay visible in explain
output — a correctness-preserving change that silently loses one of these
is a 100 TB performance bug."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from nlp_to_nosql_spark.ir import QuerySpec
from nlp_to_nosql_spark.plans.compile import apply_spec


@pytest.fixture(scope="module")
def lineitem(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "li")
    spark.range(1000).select(
        F.col("id").alias("l_orderkey"),
        (F.col("id") % 50).cast("double").alias("l_quantity"),
        (F.col("id") % 7).cast("string").alias("l_returnflag"),
        (F.col("id") % 100).cast("double").alias("l_extendedprice"),
    ).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_ir_filter_pushes_down_to_scan(lineitem):
    spec = QuerySpec(
        filter={"l_quantity": {"$gt": 45}},
        projection=("l_orderkey", "l_quantity"),
    )
    plan = _explain(apply_spec(lineitem, spec))
    assert "GreaterThan(l_quantity,45" in plan          # PushedFilters
    assert "l_extendedprice" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_projection_prunes_scan_columns(lineitem):
    spec = QuerySpec(projection=("l_orderkey",))
    plan = _explain(apply_spec(lineitem, spec))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema
    assert "l_quantity" not in read_schema


def test_small_dimension_broadcasts(spark, lineitem):
    dim = spark.range(7).select(
        F.col("id").cast("string").alias("flag"),
        F.concat(F.lit("name"), F.col("id")).alias("flag_name"),
    )
    joined = lineitem.join(F.broadcast(dim), lineitem["l_returnflag"] == dim["flag"])
    assert "BroadcastHashJoin" in _explain(joined)


def test_scan_filter_project_is_shuffle_free(lineitem):
    spec = QuerySpec(
        filter={"l_returnflag": "3"}, projection=("l_orderkey", "l_returnflag")
    )
    plan = _explain(apply_spec(lineitem, spec))
    assert "Exchange" not in plan


def test_fan_out_is_metadata_first(spark, tmp_path):
    """fan_out's guard decides from file metadata when the input is a file
    scan (no .rdd probe — that forces a physical plan); for non-file
    inputs it falls back to the RDD partition probe so a skinny in-memory
    input still gets spread."""
    from nlp_to_nosql_spark.plans.partitioning import (
        _estimated_scan_partitions,
        fan_out,
    )

    parallelism = spark.sparkContext.defaultParallelism

    # Many-file scan at/above target → no-op (identical object, no shuffle).
    wide_path = str(tmp_path / "wide")
    spark.range(10_000).repartition(parallelism).write.parquet(wide_path)
    wide = spark.read.parquet(wide_path)
    assert _estimated_scan_partitions(wide) >= parallelism
    assert fan_out(wide) is wide

    # Single small file → estimated 1 split → repartitioned to target.
    narrow_path = str(tmp_path / "narrow")
    spark.range(10).coalesce(1).write.parquet(narrow_path)
    narrow = spark.read.parquet(narrow_path)
    assert _estimated_scan_partitions(narrow) == 1
    assert fan_out(narrow).rdd.getNumPartitions() == parallelism

    # Non-file source (range): metadata estimate unavailable → the
    # RDD probe sees the single partition and spreads it.
    unsized = spark.range(10).coalesce(1)
    assert _estimated_scan_partitions(unsized) is None
    assert fan_out(unsized).rdd.getNumPartitions() == parallelism

    # ... and a non-file input already at/above target stays unchanged.
    sized = spark.range(10_000).repartition(parallelism)
    assert fan_out(sized) is sized


def test_shipping_priority_query_plan_shape(spark, tmp_path_factory):
    """The Q3-style contract query must broadcast the filtered customer
    dimension, push both date filters into the scans, and end in a
    TakeOrdered (never a global sort) for its top-k."""
    import __spark_entry__ as e

    base = tmp_path_factory.mktemp("q3")
    spark.range(200).select(
        F.col("id").alias("c_custkey"),
        F.when(F.col("id") % 5 == 0, "BUILDING").otherwise("OTHER").alias(
            "c_mktsegment"
        ),
    ).write.parquet(str(base / "customer.parquet"))
    spark.range(1000).select(
        F.col("id").alias("o_orderkey"),
        (F.col("id") % 200).alias("o_custkey"),
        F.to_timestamp(F.lit("1997-06-01")).alias("o_orderdate"),
    ).write.parquet(str(base / "orders.parquet"))
    spark.range(3000).select(
        (F.col("id") % 1000).alias("l_orderkey"),
        (F.col("id") % 97).cast("double").alias("l_extendedprice"),
        F.lit(0.05).alias("l_discount"),
        F.to_timestamp(F.lit("1998-06-01")).alias("l_shipdate"),
    ).write.parquet(str(base / "lineitem.parquet"))
    # minimal stubs for the other catalog tables (events needs a ts column
    # for the catalog's nanos normalization)
    spark.range(1).select(
        F.col("id").alias("event_id"),
        F.current_timestamp().alias("ts"),
    ).write.parquet(str(base / "events.parquet"))
    for t in ("region", "nation", "supplier", "part", "documents",
              "embeddings"):
        spark.range(1).select(F.col("id")).write.mode("overwrite").parquet(
            str(base / f"{t}.parquet")
        )

    df = e._q_shipping_priority(spark, str(base))
    plan = _explain(df)
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "Sort" not in plan.replace("TakeOrderedAndProject", "")
    # both timestamp filters reached the parquet scans
    assert plan.count("PushedFilters: [IsNotNull") >= 2


def test_size_bytes_all_spark_spellings():
    from nlp_to_nosql_spark.plans.partitioning import _size_bytes

    assert _size_bytes("134217728") == 128 * 1024 * 1024
    assert _size_bytes("128m") == 128 * 1024 * 1024
    assert _size_bytes("128MB") == 128 * 1024 * 1024
    assert _size_bytes("4194304b") == 4 * 1024 * 1024
    assert _size_bytes("1gb") == 1 << 30
    assert _size_bytes("0.5k") == 512


def test_approx_ndv_scale_path_error_bound(spark):
    """agg3's docstring names approx_count_distinct as the single-pass
    100 TB NDV path; pin its HLL++ error on real data to the documented
    ±2 % default (rsd=0.02 ⇒ observed error well under 3·rsd)."""
    from nlp_to_nosql_spark.sources.catalog import register_tables

    ev = register_tables(spark, "/root/testdata/sf0.01")["events"]
    rows = (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact"),
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx"),
        )
        .collect()
    )
    assert rows
    for r in rows:
        assert abs(r["approx"] - r["exact"]) <= max(0.06 * r["exact"], 1)


def test_partitioned_write_read_prunes_partitions(spark, tmp_path):
    """s11's layout claim: a filter on the hive partition column must
    become a PartitionFilter (only that directory is scanned), not a
    post-scan row filter."""
    dest = str(tmp_path / "part_docs")
    spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("de").alias("lang"),
    ).write.mode("overwrite").partitionBy("lang").parquet(dest)

    back = spark.read.parquet(dest).filter(F.col("lang") == "en")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        back.explain(True)
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    # the lang predicate sits in the partition filters, and no separate
    # data Filter node survives for it
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("lang" in ln for ln in pf)
    assert back.count() == 50


def test_persisted_storage_levels(spark):
    """``persisted`` reads one fixed table: ``shingles`` goes to disk,
    every other kind to memory with disk spill, and an unknown kind
    raises instead of silently taking a default."""
    from pyspark import StorageLevel

    from nlp_to_nosql_spark.plans.caching import LEVELS, persisted

    for kind in LEVELS:
        df = persisted(spark.range(3), kind)
        try:
            want = (
                StorageLevel.DISK_ONLY
                if kind == "shingles"
                else StorageLevel.MEMORY_AND_DISK
            )
            assert df.storageLevel == want, kind
        finally:
            df.unpersist()
    with pytest.raises(KeyError):
        persisted(spark.range(3), "no_such_kind")


def test_only_mongo_deployment_confs_remain():
    """Operator tuning lives in module constants; the package reads no
    ``spark.nlp2nosql.*`` conf except the two Mongo deployment settings
    (where the data lives), so no runtime switch can re-plan a query."""
    import re
    from pathlib import Path

    import nlp_to_nosql_spark

    root = Path(nlp_to_nosql_spark.__file__).parent
    names = {
        m
        for path in root.rglob("*.py")
        for m in re.findall(
            r"spark\.nlp2nosql\.([A-Za-z.]+)", path.read_text(encoding="utf-8")
        )
    }
    assert names == {"source.mongo.uri", "source.mongo.database"}
