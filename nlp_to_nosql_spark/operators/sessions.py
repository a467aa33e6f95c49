"""Sessionization: group per-user event streams into gap-bounded sessions.

Batch form is the classic lag/cumulative-sum window pair — two passes over
one ``(user_id)`` hash partitioning, no Python in the row path, identical
SQL runs on any ANSI engine (the DuckDB oracle uses the same text).

Streaming form is a custom stateful operator on ``applyInPandasWithState``:
per-user open-session state, flushed on gap expiry via event-time timeout.
That is the Spark-native replacement for the reference's (stubbed) async
query path (``app_server.py:281-289``) generalized to real stream state.
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nlp_to_nosql_spark.functions.time import epoch_us


def sessionize(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
    value_col: str = "value",
    order_tiebreak: str = "event_id",
) -> DataFrame:
    """One row per (user, session): start/end timestamps, event count, value sum.

    A session breaks where the gap since the previous event of the same
    user exceeds ``gap_minutes``.  Plan: one shuffle on ``user_col`` shared
    by both window functions, then a partial-aggregated groupBy on
    (user, session_idx) that reuses the same partitioning (no second
    shuffle of the full data under AQE).
    """
    w_order = Window.partitionBy(user_col).orderBy(ts_col, order_tiebreak)
    # Compare in integer microseconds on both engines — casting a timestamp
    # to long truncates to seconds and can flip sub-second gap edges.
    # epoch_us (not unix_micros) so TIMESTAMP_NTZ event times work too.
    gap_us = gap_minutes * 60 * 1_000_000

    with_breaks = events.withColumn(
        "is_new_session",
        (
            epoch_us(F.col(ts_col))
            - F.lag(epoch_us(F.col(ts_col))).over(w_order)
            > gap_us
        )
        .cast("int"),
    ).withColumn(
        "session_idx",
        F.sum(F.coalesce(F.col("is_new_session"), F.lit(1))).over(
            w_order.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )

    return (
        with_breaks.groupBy(user_col, "session_idx")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(value_col), 2).alias("sum_value"),
        )
        .select(
            user_col,
            "session_idx",
            "session_start",
            "session_end",
            "n_events",
            "sum_value",
        )
    )


#: DuckDB twin of :func:`sessionize` — same window/groupBy shape, so the
#: driver's oracle compare exercises the full operator.  ``{gap_us}`` in
#: microseconds; DuckDB's epoch_us() on a naive timestamp equals our
#: zone-free functions.time.epoch_us on the NTZ events column.
#:
#: ``session_idx`` is CAST to BIGINT because DuckDB types a windowed integer
#: SUM as DECIMAL(38,0) while Spark emits BIGINT, and the driver's value
#: hash is type-sensitive (identical values, different Arrow types → miss).
SESSIONIZE_SQL = """
WITH breaks AS (
  SELECT user_id, ts, event_id, value,
         CAST(COALESCE(epoch_us(ts) - epoch_us(LAG(ts) OVER w) > {gap_us}, TRUE) AS INT)
           AS is_new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
numbered AS (
  SELECT user_id, ts, value,
         CAST(SUM(is_new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
  FROM breaks
)
SELECT user_id, session_idx,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 2) AS sum_value
FROM numbered GROUP BY user_id, session_idx
"""


# ---------------------------------------------------------------------------
# streaming sessionization (custom stateful operator)
# ---------------------------------------------------------------------------

#: (user_id, open-session accumulator) state schema.
_STATE_SCHEMA = "last_ts long, session_start long, n_events long, sum_value double"
_OUTPUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events long, sum_value double"
)


def sessionize_stream(
    events: DataFrame,
    gap_minutes: int = 30,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming sessionization over an event stream with event-time state.

    ``applyInPandasWithState`` keeps one open session per user; a session is
    emitted when a new event arrives more than ``gap_minutes`` after the
    previous one, or when the state times out past the watermark.  State is
    O(active users), not O(events) — the scale-correct shape.
    """
    import pandas as pd  # local import: only the streaming path needs it
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from nlp_to_nosql_spark.functions.time import epoch_us

    # Integer microseconds end-to-end — same precision as the batch
    # operator, so streaming output is oracle-comparable.
    gap_us = gap_minutes * 60 * 1_000_000

    # Epoch micros derived JVM-side rather than in the pandas worker
    # (Arrow hands the worker session-zone-naive wall clocks).  The
    # events table is pinned TIMESTAMP_NTZ by sources.catalog._normalize,
    # where epoch_us is zone-free and exact; an LTZ input would get
    # session-local wall-clock differences (off by the offset delta
    # across a DST transition) — use F.unix_micros for LTZ columns
    # needing elapsed time.
    events = events.withColumn("_ts_us", epoch_us(F.col("ts")).cast("long"))

    def update(key, pdfs, state: GroupState):
        (user_id,) = key
        rows = []
        if state.exists:
            last_ts, session_start, n_events, sum_value = state.get
        else:
            last_ts = session_start = None
            n_events, sum_value = 0, 0.0

        events_seen = []
        for pdf in pdfs:
            events_seen.extend(
                zip(pdf["_ts_us"].astype("int64"), pdf["value"].astype(float))
            )
        for ts_us, value in sorted(events_seen):
            if last_ts is not None and ts_us - last_ts > gap_us:
                rows.append((user_id, session_start, last_ts, n_events, sum_value))
                session_start, n_events, sum_value = ts_us, 0, 0.0
            if session_start is None:
                session_start = ts_us
            last_ts = ts_us
            n_events += 1
            sum_value += value

        if state.hasTimedOut:
            if n_events:
                rows.append((user_id, session_start, last_ts, n_events, sum_value))
            state.remove()
        else:
            state.update((last_ts, session_start, n_events, sum_value))
            state.setTimeoutTimestamp((last_ts + gap_us) // 1000)

        if rows:
            out = pd.DataFrame(
                rows,
                columns=[
                    "user_id",
                    "session_start",
                    "session_end",
                    "n_events",
                    "sum_value",
                ],
            )
            out["session_start"] = pd.to_datetime(out["session_start"], unit="us")
            out["session_end"] = pd.to_datetime(out["session_end"], unit="us")
            yield out

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=_OUTPUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
