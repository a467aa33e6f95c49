"""QuerySpec → DataFrame plan (filter + project).

The compiled plan is a pure scan-filter-project pipeline: single
stage, shuffle-free, fully whole-stage-codegen'd, with predicates and column
pruning pushed into the parquet scan by Catalyst (SURVEY §4).
"""

from __future__ import annotations

import logging
from typing import Sequence

from pyspark.sql import DataFrame

from nlp_to_nosql_spark.ir import QuerySpec
from nlp_to_nosql_spark.plans.predicates import compile_predicate

logger = logging.getLogger(__name__)


def compile_projection(df: DataFrame, projection: Sequence[str]) -> list[str]:
    """Inclusion projection → select list (J1-J2, SURVEY §2.3).

    Unknown columns are dropped with a warning (Mongo projects them as
    simply absent); an empty/fully-unknown projection means select-all
    (``No_Sql.py:311-312,396``).
    """
    if not projection:
        return []
    known = set(df.columns)
    cols = [c for c in projection if c in known]
    dropped = [c for c in projection if c not in known]
    if dropped:
        logger.warning("projection references unknown columns %s — dropped", dropped)
    return cols


def apply_spec(df: DataFrame, spec: QuerySpec) -> DataFrame:
    """Apply a QuerySpec to a DataFrame: filter → project.

    The result is the unbounded filtered/projected relation; the executor
    applies ``spec.limit`` to its collect and counts this relation
    unlimited (A1 — ``No_Sql.py:416``).
    """
    pred = compile_predicate(spec.filter, schema_fields=df.columns)
    out = df.filter(pred) if pred is not None else df
    cols = compile_projection(df, spec.projection)
    if cols:
        out = out.select(*cols)
    return out
