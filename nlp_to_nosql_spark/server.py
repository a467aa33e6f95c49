"""HTTP serving layer — the engine's equivalent of the reference's FastAPI
server (``app_server.py``).

Endpoint-for-endpoint parity:

* ``GET /``            — service info + timeout config  (``app_server.py:123-146``)
* ``GET /health``      — health probe                   (``app_server.py:148-172``)
* ``GET /test``        — canned compile round-trip      (``app_server.py:174-200``)
* ``POST /query``      — validated NL query             (``app_server.py:202-278``)
* ``POST /query/async``— not-implemented stub envelope  (``app_server.py:281-289``)
* ``GET /ui``          — browser UI over the same API   (``main.py:308-362``,
  the reference's Streamlit client, re-rendered as one static page — see
  :mod:`nlp_to_nosql_spark.ui`)

with the same validation ranges (``QueryRequest``, ``app_server.py:75-82``:
non-empty input, 1 ≤ limit ≤ 1000, 5 ≤ timeout ≤ 60), the same layered
budget (70 % compile / remainder-minus-buffer DB — implemented once in
``timeout.budget_split`` and consumed via ``Engine.query``), and the same
typed error envelopes (408 TIMEOUT_ERROR / 500 INTERNAL_ERROR JSON bodies,
``app_server.py:292-332``; 422 with a pydantic detail list for validation,
matching FastAPI's RequestValidationError shape), the same permissive CORS
policy on every response (``app_server.py:64-70``), and the same lifecycle:
startup connection probe + SIGINT/SIGTERM graceful shutdown that releases
the engine's session (``app_server.py:31-51,335-345``).

The container has no FastAPI/uvicorn, so the transport is Flask (WSGI) —
also an offline-testable real HTTP surface — with pydantic v2 models doing
exactly the validation work FastAPI would.  The app is an app-factory over
:class:`~nlp_to_nosql_spark.api.Engine`, so any SparkSession-backed engine
serves unchanged, and ``/query`` returns ``Engine.query``'s envelope as is.
"""

from __future__ import annotations

import logging
import os
import time
from typing import Any, Optional

from pydantic import BaseModel, Field, ValidationError

from nlp_to_nosql_spark.api import Engine
from nlp_to_nosql_spark.ir import DEFAULT_LIMIT, MAX_LIMIT, MIN_LIMIT
from nlp_to_nosql_spark.timeout import QueryTimeoutError

#: Per-stage progress logging, toggled by ``show_progress`` — the
#: reference logs these via its uvicorn logger (``app_server.py:209-249``).
logger = logging.getLogger("nlp_to_nosql_spark.server")

VERSION = "1.1.0"

#: Global timeout configuration (``app_server.py:27-29``).
DEFAULT_QUERY_TIMEOUT = 30
DEFAULT_DB_TIMEOUT = 15
MAX_TIMEOUT = 60


class QueryRequest(BaseModel):
    """Request model with the reference's exact validation ranges
    (``app_server.py:75-82``)."""

    input: str = Field(..., min_length=1)
    db: str = Field(default="testdb")
    collection: str = Field(default="testcoll")
    limit: Optional[int] = Field(default=DEFAULT_LIMIT, ge=MIN_LIMIT, le=MAX_LIMIT)
    timeout: Optional[int] = Field(default=DEFAULT_QUERY_TIMEOUT, ge=5, le=MAX_TIMEOUT)
    # Toggles server-side per-stage progress logging, the reference's
    # semantics (app_server.py:81-82, 209-249): compile and execution
    # stage timings go to the service logger when true.
    show_progress: Optional[bool] = Field(default=False)


def _error_body(status: int, error: str, error_type: str, **extra: Any) -> dict:
    """Typed error envelope (``app_server.py:292-332``)."""
    return {
        "ok": False,
        "error": error,
        "error_type": error_type,
        "status_code": status,
        "timestamp": time.time(),
        **extra,
    }


def create_app(engine: Engine, table_resolver=None):
    """Build the Flask app over ``engine``.

    ``table_resolver(db, collection) -> table_name`` maps the reference's
    Mongo-style (db, collection) namespace onto the engine catalog; the
    default ignores ``db`` and uses ``collection`` as the table name, which
    is how the catalog registers parquet tables.
    """
    from flask import Flask, jsonify, request

    app = Flask("nlp_to_nosql_spark")
    start_time = time.time()
    resolve = table_resolver or (lambda db, coll: coll)

    # Permissive CORS by default, mirroring the reference's CORSMiddleware
    # config (app_server.py:64-70: allow_origins=[...,"*"], credentials,
    # GET/POST/PUT/DELETE, all headers).  Starlette's "*"-with-credentials
    # behavior echoes the request Origin back rather than a literal "*";
    # we do the same so credentialed browser clients work identically.
    # Reflect-any-origin WITH credentials lets any website make
    # credentialed reads, so deployments that aren't chasing strict
    # reference parity should set NLP2NOSQL_CORS_ORIGINS to a
    # comma-separated allowlist — then only listed origins are reflected
    # (others get no CORS headers, the browser blocks the read).
    allowed = {
        o.strip()
        for o in os.environ.get("NLP2NOSQL_CORS_ORIGINS", "*").split(",")
        if o.strip()
    }

    @app.after_request
    def _cors(resp):
        origin = request.headers.get("Origin")
        if "*" not in allowed and (origin is None or origin not in allowed):
            return resp
        resp.headers["Access-Control-Allow-Origin"] = origin or "*"
        if origin:
            # Append, don't assign: clobbering an existing Vary (e.g. a
            # handler's Vary: Accept-Encoding) breaks caches (r6 advice).
            vary = {
                v.strip()
                for v in resp.headers.get("Vary", "").split(",")
                if v.strip()
            }
            if "Origin" not in vary:
                vary.add("Origin")
                resp.headers["Vary"] = ", ".join(sorted(vary))
        resp.headers["Access-Control-Allow-Credentials"] = "true"
        resp.headers["Access-Control-Allow-Methods"] = "GET, POST, PUT, DELETE"
        resp.headers["Access-Control-Allow-Headers"] = request.headers.get(
            "Access-Control-Request-Headers", "*"
        )
        return resp

    @app.get("/")
    def root():
        return jsonify(
            {
                "message": "NLP to NoSQL API is running",
                "version": VERSION,
                "status": "ok",
                "uptime": round(time.time() - start_time, 2),
                "endpoints": {
                    "health": "/health",
                    "query": "/query",
                    "query-with-progress": "/query?show_progress=true",
                    "test": "/test",
                },
                "timeout_info": {
                    "default_query_timeout": DEFAULT_QUERY_TIMEOUT,
                    "default_db_timeout": DEFAULT_DB_TIMEOUT,
                    "max_timeout": MAX_TIMEOUT,
                },
            }
        )

    @app.get("/health")
    def health():
        status = engine.test_connections()
        healthy = all(status.values())
        return jsonify(
            {
                "status": "healthy" if healthy else "degraded",
                "spark_connected": status.get("spark", False),
                "compiler_connected": status.get("compiler", False),
                "timestamp": time.time(),
                "version": VERSION,
                "uptime": round(time.time() - start_time, 2),
            }
        )

    @app.get("/test")
    def test():
        try:
            test_query = "Find all employees"
            t0 = time.time()
            spec = engine.compile(test_query)
            return jsonify(
                {
                    "status": "ok",
                    "test_query": test_query,
                    "generated_mongo": spec.to_ir(),
                    "execution_time": round(time.time() - t0, 3),
                }
            )
        except QueryTimeoutError as e:
            return jsonify(_error_body(408, str(e), "TIMEOUT_ERROR")), 408
        except Exception as e:  # noqa: BLE001 — typed envelope, not a crash
            return (
                jsonify(_error_body(500, f"Test failed: {e}", "INTERNAL_ERROR")),
                500,
            )

    @app.post("/query")
    def query():
        try:
            req = QueryRequest.model_validate(request.get_json(force=True, silent=True) or {})
        except ValidationError as e:
            # FastAPI's RequestValidationError shape: 422 + detail list.
            return jsonify({"detail": e.errors(include_url=False)}), 422

        # Optional fields validate explicit JSON nulls as None (ge/le skip
        # None) — coalesce to the documented defaults rather than letting
        # None reach the engine as a limit/timeout.
        limit = req.limit if req.limit is not None else DEFAULT_LIMIT
        timeout = req.timeout if req.timeout is not None else DEFAULT_QUERY_TIMEOUT
        if req.show_progress:
            logger.info(
                "Processing query: %r (timeout: %ss)", req.input, timeout
            )
        try:
            resp = engine.query(
                req.input,
                resolve(req.db, req.collection),
                limit=limit,
                timeout_s=timeout,
            )
            if req.show_progress:
                logger.info(
                    "Query generation completed in %.3fs",
                    resp["query_generation_time"],
                )
                logger.info(
                    "Database query completed in %.3fs",
                    resp["db_execution_time"],
                )
            return jsonify(resp)
        except (QueryTimeoutError, TimeoutError) as e:
            return (
                jsonify(
                    _error_body(
                        408,
                        str(e),
                        "TIMEOUT_ERROR",
                        suggestion=(
                            "Try increasing the timeout value or simplifying "
                            "the query"
                        ),
                    )
                ),
                408,
            )
        except ValueError as e:
            # Engine-level validation (empty text after trimming):
            # client error, surfaced like the reference's HTTPException
            # path.
            return jsonify(_error_body(400, str(e), "HTTP_ERROR")), 400
        except Exception as e:  # noqa: BLE001 — typed envelope, not a crash
            # Unknown table / view: Spark raises AnalysisException
            # (TABLE_OR_VIEW_NOT_FOUND) — a client error, not a 500.
            from pyspark.errors import AnalysisException

            if isinstance(e, AnalysisException):
                return jsonify(_error_body(400, str(e), "HTTP_ERROR")), 400
            return (
                jsonify(
                    _error_body(500, f"Internal server error: {e}", "INTERNAL_ERROR")
                ),
                500,
            )

    @app.get("/ui")
    def ui():
        from nlp_to_nosql_spark.ui import UI_HTML

        return app.response_class(UI_HTML, mimetype="text/html")

    @app.post("/query/async")
    def query_async():
        """Stub endpoint mirroring the reference's (``app_server.py:281-289``):
        it validates the request like ``/query`` would, then returns the
        documented not-implemented envelope instead of a 404 — a client
        porting against the reference's surface sees the same body."""
        try:
            QueryRequest.model_validate(
                request.get_json(force=True, silent=True) or {}
            )
        except ValidationError as e:
            return jsonify({"detail": e.errors(include_url=False)}), 422
        return jsonify(
            {
                "message": "Async queries not implemented yet",
                "suggestion": (
                    "Use the regular /query endpoint with appropriate "
                    "timeout values"
                ),
            }
        )

    return app


def install_signal_handlers(engine: Engine):
    """Graceful-shutdown parity with the reference
    (``app_server.py:335-345``): on SIGINT/SIGTERM, log, release the
    engine's resources (here: stop the SparkSession via
    ``Engine.close_connections``), and exit 0.  Returns the handler so
    tests can drive it without raising a real signal.
    """
    import signal
    import sys

    def _handler(signum, frame):  # noqa: ARG001 — signal handler shape
        logger.info("Received signal %s. Shutting down gracefully...", signum)
        engine.close_connections()
        sys.exit(0)

    signal.signal(signal.SIGINT, _handler)
    signal.signal(signal.SIGTERM, _handler)
    return _handler


def serve(engine: Engine, host: str = "127.0.0.1", port: int = 8000) -> None:
    """Run the development server (production would sit behind a WSGI
    server exactly like the reference sits behind uvicorn).  Startup
    mirrors the reference lifespan (``app_server.py:31-51``): probe
    connections, log readiness, and register the graceful-shutdown
    signal handlers before serving."""
    status = engine.test_connections()
    if all(status.values()):
        logger.info("All systems ready")
    else:
        logger.warning(
            "Some connections failed - check configuration: %s", status
        )
    install_signal_handlers(engine)
    create_app(engine).run(host=host, port=port)
