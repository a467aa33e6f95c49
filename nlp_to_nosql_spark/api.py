"""Library API — the engine's equivalents of the reference entry points.

Reference (SURVEY §3, entry point 3):
* ``generate_mongo_query(nl)`` → IR            (``No_Sql.py:513-515``)
* ``run_mongo_query(db, coll, ir, limit)``     (``No_Sql.py:517-520``)
* ``test_connections()``                       (``No_Sql.py:522-524``)

Here the namespace is a registered-table catalog and execution is
Catalyst; :meth:`Engine.query`'s result is the reference's response
envelope (the model at ``app_server.py:84-93``, filled at ``:258-268``),
which the HTTP layer serves as is.
"""

from __future__ import annotations

import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from nlp_to_nosql_spark.compiler.rules import nl_to_ir
from nlp_to_nosql_spark.executor import execute
from nlp_to_nosql_spark.ir import DEFAULT_LIMIT, QuerySpec
from nlp_to_nosql_spark.timeout import budget_split


class Engine:
    """NL-queryable engine over a catalog of registered DataFrames."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._tables: dict[str, DataFrame] = {}

    # -- catalog ----------------------------------------------------------
    def register(self, name: str, df: DataFrame) -> None:
        df.createOrReplaceTempView(name)
        self._tables[name] = df

    def table(self, name: str) -> DataFrame:
        if name in self._tables:
            return self._tables[name]
        return self.spark.table(name)

    # -- compile ----------------------------------------------------------
    def compile(self, nl_text: str, limit: int = DEFAULT_LIMIT) -> QuerySpec:
        """NL → QuerySpec via the deterministic rule compiler.

        Rejects empty input like the reference (``No_Sql.py:213-214``).
        """
        if not nl_text or not nl_text.strip():
            raise ValueError("empty query text")
        return QuerySpec.from_ir(nl_to_ir(nl_text), limit=limit)

    # -- execute ----------------------------------------------------------
    def query(
        self,
        nl_text: str,
        table: str,
        limit: int = DEFAULT_LIMIT,
        timeout_s: float = 30.0,
    ) -> dict[str, Any]:
        """End-to-end NL query with the reference's response envelope
        (``app_server.py:258-268``) and layered budget (R2)."""
        start = time.time()
        _, db_budget = budget_split(timeout_s)

        gen_start = time.time()
        spec = self.compile(nl_text, limit=limit)
        gen_time = time.time() - gen_start

        db_start = time.time()
        total, rows = execute(
            self.spark, spec, self.table(table), query_timeout_s=db_budget
        )
        db_time = time.time() - db_start

        return {
            "ok": True,
            "mongo_query": spec.to_ir(),
            "total_matching": total,
            "result_count": len(rows),
            "results": rows,
            "execution_time": round(time.time() - start, 3),
            "query_generation_time": round(gen_time, 3),
            "db_execution_time": round(db_time, 3),
            "timeout_used": timeout_s,
        }

    def test_connections(self) -> dict[str, bool]:
        """Health probe analogue of ``No_Sql.py:447-482``."""
        ok = {"spark": False, "compiler": False}
        try:
            self.spark.range(1).count()
            ok["spark"] = True
        except Exception:
            pass
        try:
            ok["compiler"] = self.compile("Find all employees").to_ir() == {
                "filter": {},
                "projection": {},
            }
        except Exception:
            pass
        return ok

    def close_connections(self) -> None:
        """Release engine resources — the analogue of the reference's
        ``close_connections`` (``No_Sql.py:484-490``: close the Mongo
        client, null it out).  Here the held resource is the
        SparkSession: stop it, drop the catalog, and make repeat calls
        no-ops (the reference's ``if self._client`` guard).
        """
        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception:  # noqa: BLE001 — shutdown must not raise
                pass
            self.spark = None
        self._tables.clear()
