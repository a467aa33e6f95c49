"""Terminal client — the engine-side equivalent of the reference's
Streamlit UI (``main.py``), completing its third user surface.

Feature-for-feature against ``main.py``:

* run a query and show status / execution time / total matching /
  returned count plus the timing breakdown  (``main.py:174-195``)
* display the generated query IR as JSON    (``main.py:198-199``)
* render results as a table, export CSV     (``main.py:203-219``)
* error rendering with type + suggestion    (``main.py:228-249``)
* query history: total, success rate, mean
  execution time, recent rows               (``main.py:251-271``)

The history is the engine's parquet append sink
(:mod:`nlp_to_nosql_spark.streaming.history`), so the dashboard numbers
are the same A5-A7 aggregates the driver's oracle checks.  Everything
here is driver-side presentation over bounded (≤ limit) results — the
heavy lifting stays in Spark.
"""

from __future__ import annotations

import argparse
import csv
import datetime
import io
import json
import time
from typing import Any

from pyspark.sql import SparkSession

from nlp_to_nosql_spark.api import Engine
from nlp_to_nosql_spark.streaming.history import append_history, history_aggregates


def run_query(
    engine: Engine,
    nl_text: str,
    table: str,
    limit: int = 50,
    timeout_s: float = 30.0,
    history_path: str | None = None,
) -> dict[str, Any]:
    """Execute one NL query; returns the response envelope (ok or error
    form, never raises) and appends the outcome to the history sink."""
    start = time.time()
    try:
        resp = engine.query(nl_text, table, limit=limit, timeout_s=timeout_s)
    except Exception as exc:  # error envelope, main.py:228-240 shape
        resp = {
            "ok": False,
            "error": str(exc),
            "error_type": type(exc).__name__,
            "execution_time": round(time.time() - start, 3),
        }
    if history_path is not None:
        _record_history(engine, nl_text, table, resp, history_path)
    return resp


def _record_history(
    engine: Engine, nl_text: str, table: str, resp: dict[str, Any], history_path: str
) -> None:
    """Best-effort history append: a broken sink must not discard an
    already-computed query result (run_query promises never to raise)."""
    try:
        append_history(
            engine.spark,
            [
                {
                    "timestamp": datetime.datetime.now(),
                    "query": nl_text,
                    "db": "spark",
                    "collection": table,
                    "success": bool(resp.get("ok")),
                    "error": resp.get("error"),
                    "execution_time": float(resp.get("execution_time", 0.0)),
                    "result_count": int(resp.get("result_count", 0)),
                }
            ],
            history_path,
        )
    except Exception as exc:  # noqa: BLE001 — sink failure is non-fatal
        print(f"(warning: could not append query history: {exc})")


def _table_text(rows: list[dict[str, Any]]) -> str:
    if not rows:
        return "  (no results returned)"
    cols = list(rows[0])
    widths = {
        c: max(len(c), *(len(str(r.get(c))) for r in rows)) for c in cols
    }
    head = "  " + " | ".join(c.ljust(widths[c]) for c in cols)
    sep = "  " + "-+-".join("-" * widths[c] for c in cols)
    body = [
        "  " + " | ".join(str(r.get(c)).ljust(widths[c]) for c in cols)
        for r in rows
    ]
    return "\n".join([head, sep, *body])


def render_result(resp: dict[str, Any]) -> str:
    """Text rendering of the response envelope (``main.py:174-249``)."""
    lines: list[str] = []
    if resp.get("ok"):
        lines.append(
            f"Status: success | Execution: {resp['execution_time']:.3f}s | "
            f"Found: {resp['total_matching']} | Returned: {resp['result_count']}"
        )
        if resp.get("query_generation_time") is not None:
            lines.append(
                f"Timing breakdown: generation {resp['query_generation_time']:.3f}s, "
                f"database {resp['db_execution_time']:.3f}s"
            )
        lines.append("Generated query:")
        lines.append(json.dumps(resp.get("mongo_query", {}), indent=2))
        lines.append("Results:")
        lines.append(_table_text(resp.get("results", [])))
    else:
        lines.append(f"Status: ERROR ({resp.get('error_type', 'Unknown')})")
        lines.append(f"Error: {resp.get('error', 'Unknown error')}")
        if "timeout" in str(resp.get("error_type", "")).lower():
            lines.append(
                "Suggestion: increase the timeout value or simplify the query"
            )
    return "\n".join(lines)


def results_csv_bytes(resp: dict[str, Any]) -> bytes:
    """CSV export of the returned rows (``main.py:213-219``)."""
    rows = resp.get("results", [])
    buf = io.StringIO()
    if rows:
        writer = csv.DictWriter(buf, fieldnames=list(rows[0]))
        writer.writeheader()
        writer.writerows(rows)
    return buf.getvalue().encode()


def render_history(spark: SparkSession, history_path: str, last_n: int = 10) -> str:
    """History dashboard: A5-A7 aggregates + recent entries
    (``main.py:251-271``)."""
    try:
        hist = spark.read.parquet(history_path)
    except Exception:
        return "No query history yet."
    agg = history_aggregates(hist).first()
    recent = [
        r.asDict()
        for r in hist.orderBy("timestamp", ascending=False).limit(last_n).collect()
    ]
    lines = [
        f"Total queries: {agg['total_queries']} | "
        f"Success rate: {agg['success_rate_pct']}% | "
        f"Avg execution time: {agg['avg_execution_time']}s",
        "Recent:",
    ]
    for r in recent:
        status = "ok " if r["success"] else "ERR"
        lines.append(
            f"  [{status}] {r['timestamp']:%Y-%m-%d %H:%M:%S} "
            f"{r['execution_time']:.3f}s rows={r['result_count']} {r['query']!r}"
        )
    return "\n".join(lines)


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(
        prog="nlp_to_nosql_spark.cli",
        description="NL query terminal client (Streamlit-UI parity surface)",
    )
    parser.add_argument("query", nargs="?", help="natural-language query text")
    parser.add_argument("--table", default="customer")
    parser.add_argument("--sf-dir", default=None, help="parquet table directory")
    parser.add_argument("--limit", type=int, default=50)
    parser.add_argument("--timeout", type=float, default=30.0)
    parser.add_argument("--csv", metavar="PATH", help="write returned rows as CSV")
    parser.add_argument("--history", metavar="PATH", help="history sink directory")
    parser.add_argument(
        "--show-history", action="store_true", help="print the history dashboard"
    )
    args = parser.parse_args(argv)
    # Validate BEFORE booting Spark: a usage error must not pay JVM startup.
    if args.show_history and not args.history:
        parser.error("--show-history requires --history PATH")
    if not args.show_history and not args.query:
        parser.error("a query is required (or pass --show-history)")

    from nlp_to_nosql_spark.session import get_spark
    from nlp_to_nosql_spark.sources.catalog import DEFAULT_SF_DIR, register_tables

    spark = get_spark("nlp_to_nosql_cli")

    if args.show_history:
        print(render_history(spark, args.history))
        return 0

    engine = Engine(spark)
    register_tables(spark, args.sf_dir or DEFAULT_SF_DIR)
    resp = run_query(
        engine,
        args.query,
        args.table,
        limit=args.limit,
        timeout_s=args.timeout,
        history_path=args.history,
    )
    print(render_result(resp))
    if args.csv and resp.get("ok"):
        with open(args.csv, "wb") as f:
            f.write(results_csv_bytes(resp))
        print(f"CSV written to {args.csv}")
    return 0 if resp.get("ok") else 1


if __name__ == "__main__":
    raise SystemExit(main())
