"""Per-stage timeout + cancellation harness (SURVEY §2.9 R1-R3).

The reference guards each stage with a daemon-thread join
(``TimeoutHandler.run_with_timeout``, ``No_Sql.py:66-93``) and server-side
ceilings (``max_time_ms``, ``No_Sql.py:404,416``).  Spark has no per-query
Catalyst knob, so the idiomatic equivalent is a **job group**: run the
action in a worker thread under ``setJobGroup``, and on timeout call
``cancelJobGroup`` so executors actually stop scanning (not just the driver
giving up).

The job group is the only cancellation transport.  It needs the session's
``SparkContext``, as other engine paths already do (replays read
``defaultParallelism``, the Bloom stage broadcasts).  Session tags
(``addTag``/``interruptTag``) are not used: a tag added in the worker
thread does not reliably reach that thread's jobs (verified on 4.1.2
local).
"""

from __future__ import annotations

import threading
import uuid
from typing import Any, Callable, TypeVar

from pyspark.sql import SparkSession

T = TypeVar("T")


class QueryTimeoutError(TimeoutError):
    """An action exceeded its budget and its Spark jobs were cancelled."""


def run_with_timeout(
    spark: SparkSession,
    action: Callable[[], T],
    timeout_s: float,
    group_desc: str = "",
) -> T:
    """Run ``action`` (a Spark action) with a wall-clock budget.

    A daemon worker thread sets a fresh job group (``interruptOnCancel``
    on), runs ``action`` and clears the group; the caller joins it for
    ``timeout_s``.  On expiry the group is cancelled — executors stop the
    in-flight stages, not just the driver giving up — and
    :class:`QueryTimeoutError` is raised without waiting for the worker.
    An exception raised by ``action`` itself is re-raised unchanged.
    """
    group_id = f"nl2spark-{uuid.uuid4().hex[:12]}"
    sc = spark.sparkContext
    result: dict[str, Any] = {}

    def target() -> None:
        sc.setJobGroup(group_id, group_desc or group_id, interruptOnCancel=True)
        try:
            result["value"] = action()
        except BaseException as exc:  # surfaced to caller below
            result["exc"] = exc
        finally:
            sc.setJobGroup("", "")

    thread = threading.Thread(target=target, daemon=True, name=group_id)
    thread.start()
    thread.join(timeout_s)

    if thread.is_alive():
        sc.cancelJobGroup(group_id)
        raise QueryTimeoutError(
            f"action exceeded {timeout_s:.1f}s budget; job group {group_id} cancelled"
        )
    if "exc" in result:
        raise result["exc"]
    return result["value"]


def budget_split(total_timeout_s: float) -> tuple[float, float]:
    """Layered budget arithmetic from the API layer
    (``app_server.py:218-232``): compile gets ``min(total-5, 25)`` capped at
    70 % of total; the DB stage gets the remainder minus a 1 s buffer with a
    2 s floor."""
    gen_budget = min(total_timeout_s - 5.0, 25.0)
    gen_budget = min(gen_budget, total_timeout_s * 0.7)
    db_budget = max(total_timeout_s - gen_budget - 1.0, 2.0)
    return gen_budget, db_budget
