"""Query-history sink and streaming aggregates.

The reference appends a per-query record to session state and computes
count / success-rate / mean over it client-side (``main.py:103-111,
262-267``).  Here the history is a parquet append sink (S7) whose
aggregates (A5-A7) run either batch or as a Structured Streaming query
with watermarked windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nlp_to_nosql_spark.plans.localrel import local_df

#: FIXTURES.md §2 — the reference's history-record shape.
HISTORY_SCHEMA = T.StructType(
    [
        T.StructField("timestamp", T.TimestampType()),
        T.StructField("query", T.StringType()),
        T.StructField("db", T.StringType()),
        T.StructField("collection", T.StringType()),
        T.StructField("success", T.BooleanType()),
        T.StructField("error", T.StringType()),
        T.StructField("execution_time", T.DoubleType()),
        T.StructField("result_count", T.LongType()),
    ]
)


def append_history(spark: SparkSession, records: list[dict], path: str) -> None:
    """Append query-history records to a parquet sink (S7)."""
    rows = [
        tuple(rec.get(f.name) for f in HISTORY_SCHEMA.fields) for rec in records
    ]
    local_df(spark, rows, HISTORY_SCHEMA).write.mode("append").parquet(path)


def history_aggregates(history: DataFrame) -> DataFrame:
    """A5-A7: total queries, success rate (%), mean execution time
    (``main.py:262-267``)."""
    return history.agg(
        F.count(F.lit(1)).alias("total_queries"),
        F.round(F.avg(F.col("success").cast("int")) * 100, 4).alias("success_rate_pct"),
        F.round(F.avg("execution_time"), 6).alias("avg_execution_time"),
    )


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "10 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Watermarked tumbling-window rollup; works on both batch and
    streaming DataFrames (for streams, late data beyond the watermark is
    dropped and state is bounded)."""
    src = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window(F.col(ts_col), window).alias("win"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("event_type"),
            F.col("n_events"),
            F.col("sum_value"),
        )
    )

