"""Streaming sinks beyond the memory/console built-ins.

``foreachBatch`` is the production pattern for sinks Spark has no native
streaming writer for (JDBC, upserts, multi-table fanout): each micro-batch
arrives as a regular batch DataFrame plus a monotonically increasing
``batch_id`` that is STABLE ACROSS REPLAYS — a batch re-delivered after a
failure comes back with the same id, so an idempotent writer keyed on the
id gives end-to-end exactly-once on top of the source's replayability.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery


def stream_append_parquet(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
) -> StreamingQuery:
    """Exactly-once parquet append via ``foreachBatch``.

    Each micro-batch overwrites its own ``batch_id=N`` partition
    directory: a replayed batch rewrites the same directory instead of
    appending duplicates (idempotent), and readers see the union of all
    partitions as one table (``spark.read.parquet(path)``).  At scale the
    per-batch write is a normal distributed parquet job; no driver-side
    data movement.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(path, f"batch_id={batch_id}")
        )

    return (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
