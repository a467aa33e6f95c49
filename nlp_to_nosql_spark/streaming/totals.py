"""Per-key running-total accumulators as custom stateful streaming ops.

The per-entity accumulator shape (counters, quotas, rate trackers) a
production pipeline keeps per user/device/tenant.  Reference parity: the
reference keeps a client-side running history of query metrics
(``main.py:264-268``, SURVEY §2.5 A5-A7); this is that accumulator as a
distributed keyed-state operator.

:func:`running_totals_stream` runs on ``applyInPandasWithState``, which
works on a stock PySpark install (the contract-checked path).

Scale: state is partitioned by the grouping key across executors; each
micro-batch touches only the partitions holding keys present in that
batch.  Money is accumulated as per-event floor-shift integer cents (see
win3's rounding note), so totals are exact and accumulation-order-free.
"""

from __future__ import annotations

import math
from typing import TYPE_CHECKING, Iterator, Tuple

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

_STATE_SCHEMA = "n_events long, value_cents long"
OUTPUT_SCHEMA = "user_id long, n_events long, value_cents long"


def _cents(values) -> int:
    # floor(v*100 + 0.5) in float64 matches the SQL FLOOR expression
    # bit-for-bit (mul/add are IEEE-exact ops), so the running total is
    # an exact integer no matter how events are batched or ordered.
    # NULL values arrive as NaN and contribute nothing — SQL SUM's
    # null-skipping — instead of ValueError-ing the whole streaming query
    # (the row itself still counts toward n_events, like COUNT(*)).
    return int(
        sum(math.floor(v * 100 + 0.5) for v in values if not math.isnan(v))
    )


def running_totals_stream(events: DataFrame) -> DataFrame:
    """Streaming per-user running totals over a stream with columns
    ``(user_id, value)``: update-mode output, one row per key per
    micro-batch carrying the cumulative ``(n_events, value_cents)``.
    """
    import pandas as pd

    def update(
        key: Tuple,
        pdfs: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        n, cents = 0, 0
        for pdf in pdfs:
            n += len(pdf)
            cents += _cents(pdf["value"])
        if state.exists:
            prev_n, prev_cents = state.get
            n += prev_n
            cents += prev_cents
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "value_cents": [cents]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


LATEST_STATE_SCHEMA = "ts_us long, event_id long, value double"

#: key column name -> Spark DDL type, used to assemble the output schema
#: for whatever key subset the caller groups on.
_LATEST_KEY_TYPES = {"user_id": "long", "event_type": "string"}


def latest_state_stream(
    events: DataFrame, keys: tuple = ("user_id", "event_type")
) -> DataFrame:
    """Streaming CDC compaction: per ``keys`` keep the row with the
    greatest (ts, event_id) — the streaming twin of
    ``operators.changelog.latest_wins``, as keyed state.  Update-mode
    output re-emits each key's current winner per micro-batch; the
    winning (ts, event_id) is monotone per key, so the replay harness's
    final rank-1 pick is the post-replay latest state.

    The event time is compared and carried as int64 epoch ticks
    (``astype('int64')`` of the pandas column — unit-consistent within a
    run), never as a timestamp, so state stays engine-neutral and the
    final projection needs no zone reasoning.  State per key is one
    (ts, id, value) triple — O(active keys), the production CDC-view
    shape.  NULL payload values would surface as NaN (not SQL NULL);
    upstream CDC feeds carry non-null payloads by contract.
    """
    import numpy as np
    import pandas as pd

    out_schema = ", ".join(
        [f"{k} {_LATEST_KEY_TYPES[k]}" for k in keys]
        + ["ts_us long", "event_id long", "value double"]
    )

    def update(
        key: Tuple,
        pdfs: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        best = tuple(state.get) if state.exists else None
        for pdf in pdfs:
            if not len(pdf):
                continue
            ts = pdf["ts"].astype("int64").to_numpy()
            eid = pdf["event_id"].to_numpy()
            i = int(np.lexsort((eid, ts))[-1])
            cand = (int(ts[i]), int(eid[i]), float(pdf["value"].iloc[i]))
            if best is None or (cand[0], cand[1]) > (best[0], best[1]):
                best = cand
        state.update(best)
        row = {k: [key[j]] for j, k in enumerate(keys)}
        row.update(
            {"ts_us": [best[0]], "event_id": [best[1]], "value": [best[2]]}
        )
        yield pd.DataFrame(row)

    return events.groupBy(*keys).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=LATEST_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
