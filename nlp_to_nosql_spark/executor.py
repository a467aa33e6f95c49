"""Query executor — reproduces ``run_mongo_query`` semantics on Spark.

Reference behavior (``No_Sql.py:379-439``):
1. filter + projection + clamped limit, evaluated server-side (S1) —
   here: Catalyst/Tungsten with pushdown;
2. bounded materialization (S2: ``list(cursor)`` → ``collect()``, safe
   because limit ≤ 1000);
3. exact filtered count with a time budget, metadata fast path on the empty
   filter, degradation to ``len(results)`` on failure (A1-A3,
   ``No_Sql.py:413-421``);
4. per-row JSON sanitization: keep JSON-serializable values, stringify the
   rest (F1, ``No_Sql.py:424-433``).

The count and the collect share one filtered relation, so at 100 TB the
scan is a single-stage parquet read with the predicate pushed down; the
count never collects rows to the driver.
"""

from __future__ import annotations

import json
import logging
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from nlp_to_nosql_spark.ir import QuerySpec
from nlp_to_nosql_spark.plans.compile import apply_spec
from nlp_to_nosql_spark.timeout import run_with_timeout

logger = logging.getLogger(__name__)

#: Per-query execution ceilings, mirroring the reference envelope
#: (``No_Sql.py:404`` / ``No_Sql.py:416``).
QUERY_TIMEOUT_S = 10.0
COUNT_TIMEOUT_S = 3.0


def sanitize_row(row: dict[str, Any]) -> dict[str, Any]:
    """Keep values that survive ``json.dumps``; stringify the rest
    (``No_Sql.py:426-433``)."""
    sanitized: dict[str, Any] = {}
    for k, v in row.items():
        try:
            json.dumps(v)
            sanitized[k] = v
        except (TypeError, ValueError):
            sanitized[k] = str(v)
    return sanitized


def execute(
    spark: SparkSession,
    spec: QuerySpec,
    df: DataFrame,
    query_timeout_s: float = QUERY_TIMEOUT_S,
) -> tuple[int, list[dict[str, Any]]]:
    """Run a QuerySpec against ``df``; return ``(total_matching, rows)``.

    ``total_matching`` is the pre-limit filtered count; ``rows`` are at most
    ``spec.limit`` sanitized dicts.  The count runs under
    :data:`COUNT_TIMEOUT_S`, read at call time.
    """
    # One source of truth for the filter→project plan; the count below
    # runs on the same relation (projection never changes row count, and
    # counting the projected form lets Catalyst prune harder).
    projected = apply_spec(df, spec)

    start = time.time()
    collected = run_with_timeout(
        spark,
        lambda: projected.limit(spec.limit).collect(),
        timeout_s=query_timeout_s,
        group_desc=f"execute:collect limit={spec.limit}",
    )
    logger.info(
        "query executed in %.2fs, %d rows returned", time.time() - start, len(collected)
    )

    rows = [sanitize_row(r.asDict(recursive=True)) for r in collected]

    # Count path: exact filtered count with degradation (A1-A3).  On the
    # empty filter this is Spark's parquet row-group metadata count — the
    # analogue of Mongo's estimated_document_count fast path, but exact.
    try:
        count_start = time.time()
        total = run_with_timeout(
            spark,
            projected.count,
            timeout_s=COUNT_TIMEOUT_S,
            group_desc="execute:count",
        )
        logger.info("count took %.2fs", time.time() - count_start)
    except Exception as exc:  # degraded lower bound (No_Sql.py:419-421)
        logger.warning("count failed/timed out (%s); degrading to len(results)", exc)
        total = len(rows)

    return total, rows
