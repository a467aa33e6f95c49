"""Multi-format sources and sinks.

The reference reads one store (MongoDB) and writes three client-side sinks:
JSON response envelope (S4, ``app_server.py:258-268``), pandas display
(S5, ``main.py:207``), CSV export (S6, ``main.py:212-218``).  Here sources
and sinks are Spark readers/writers, so every format gains distributed
scan/write, schema handling, and (for parquet) pushdown for free.

Scale notes: CSV/JSON are line-splittable (parallel scan) but carry no
column statistics and no pushdown — the loader API makes parquet the
default and treats the text formats as ingest/egress boundaries, with an
explicit ``to_parquet`` compaction step for anything that will be queried
repeatedly.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

READ_FORMATS = ("parquet", "orc", "csv", "json", "text")


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: T.StructType | str | None = None,
    **options: Any,
) -> DataFrame:
    """Read one table in any supported format.

    For csv/json an explicit ``schema`` is strongly preferred: schema
    inference costs a full extra pass over the data at scale, so when no
    schema is given we sample (``samplingRatio``) instead of scanning
    everything.
    """
    if fmt not in READ_FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {READ_FORMATS}")
    reader = spark.read.format(fmt)
    if fmt == "csv":
        reader = reader.option("header", "true")
    if schema is not None:
        reader = reader.schema(schema)
    elif fmt in ("csv", "json"):
        reader = reader.option(
            "samplingRatio", options.pop("samplingRatio", "0.1")
        )
        if fmt == "csv":
            reader = reader.option("inferSchema", "true")
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)


def write_orc(df: DataFrame, path: str) -> None:
    """Columnar ORC sink (built into Spark; same pushdown/pruning story
    as parquet for engines that prefer ORC at rest)."""
    df.write.mode("overwrite").orc(path)


def to_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """Compact any source into parquet — the queryable-at-rest format."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_text_lines(df: DataFrame, path: str) -> None:
    """Write a one-string-column DataFrame as raw text lines (the
    log-file / JSONL-adjacent sink; one line per row, no escaping —
    callers own delimiter safety)."""
    df.write.mode("overwrite").text(path)


def write_csv(df: DataFrame, path: str, header: bool = True) -> None:
    """Distributed CSV export (S6 — ``main.py:212-218`` writes one file
    driver-side; here each partition writes its own part file)."""
    df.write.mode("overwrite").option("header", str(header).lower()).csv(path)


def write_json(
    df: DataFrame, path: str, compression: str | None = None
) -> None:
    """Distributed JSON-lines export (S4's rows, minus the envelope).
    ``compression`` ("gzip", "zstd", ...) selects the per-part-file
    codec — the wire format most corpus interchange uses (.jsonl.gz);
    readers splice codec detection off the file extension, so the
    roundtrip needs no extra options."""
    w = df.write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    w.json(path)


def csv_bytes(df: DataFrame, limit: int = 1000) -> bytes:
    """Driver-side CSV export of a bounded result — the literal analogue
    of the reference's download button (``df.to_csv(index=False)``,
    ``main.py:212``).  Bounded by ``limit`` so it can never pull an
    unbounded relation through the driver."""
    return df.limit(limit).toPandas().to_csv(index=False).encode()
