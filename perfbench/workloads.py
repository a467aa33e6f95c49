"""The benchmark's workloads: inputs made from a seed, the ops, their checks.

* ``nl_serve`` — closed loop of 2 clients POSTing NL queries to the WSGI app.
* ``batch_pipeline`` — curation operator queries, a streaming replay and
  two sink round trips, one after another, each to the ``noop`` sink.

A window is a fixed amount of work sized to take about ``--seconds`` on a
calm host: one closed loop of a fixed number of requests, or a fixed number
of batch passes (see ``window`` and ``run.py``).

An op is one request (``nl_serve``) or one contract query materialized to
the ``noop`` sink.  Every op's output is checked against DuckDB outside the
timed window: each reply inline against precomputed counts, each contract
query once per run against its ``oracle_sql()`` twin.
"""

from __future__ import annotations

import os
import random
import re
import shutil
import threading
import time
from dataclasses import dataclass

from perfbench import oracle
from perfbench.datagen import TABLES
from perfbench.tracing import NullTracer

# ---------------------------------------------------------------------------
# nl_serve
# ---------------------------------------------------------------------------

#: A 600 k-row view over lineitem with the employees view's five columns.
LINEITEM_STAFF_SQL = """
SELECT
  CAST(l_orderkey AS STRING) AS name,
  CAST(l_partkey % 45 + 21 AS BIGINT) AS age,
  CASE l_suppkey % 5
    WHEN 0 THEN 'engineering'
    WHEN 1 THEN 'marketing'
    WHEN 2 THEN 'sales'
    WHEN 3 THEN 'hr'
    ELSE 'other'
  END AS department,
  l_extendedprice AS salary,
  CAST(l_orderkey % 30 AS BIGINT) AS experience_years
FROM lineitem
"""

VIEWS = ("employees", "lineitem_staff")
LIMITS = (1, 50, 1000)
FAMILIES = ("salary", "age", "department", "name", "experience", "find_all")

#: Value ranges of the numeric columns per view, for drawing thresholds.
_RANGES = {
    "employees": {"salary": (0, 10_000), "age": (21, 65), "experience_years": (0, 29)},
    "lineitem_staff": {"salary": (900, 105_000), "age": (21, 65), "experience_years": (0, 29)},
}
_DEPT_WORDS = {
    "engineering": ("engineers", "developers", "engineering team", "devs"),
    "marketing": ("marketing staff", "market people"),
    "sales": ("sales reps", "sale team"),
    "hr": ("hr staff", "human resources"),
}


@dataclass(frozen=True)
class Request:
    text: str
    view: str
    limit: int
    family: str
    predicate: str  # DuckDB WHERE clause the reply's total must match


def _request(rng: random.Random, view: str, limit: int, family: str) -> Request:
    lo_hi = _RANGES[view]
    if family in ("salary", "age", "experience"):
        col = {"salary": "salary", "age": "age", "experience": "experience_years"}[family]
        n = rng.randint(*lo_hi[col])
        op = rng.choice((">", "<", "=")) if family == "salary" else rng.choice((">", "<"))
        words = {
            "salary": {">": "employees earning over {n}", "<": "salary under {n}", "=": "salary {n}"},
            "age": {">": "staff with age over {n}", "<": "staff with age below {n}"},
            "experience": {">": "experience more than {n} years", "<": "experience less than {n} years"},
        }[family][op]
        return Request(words.format(n=n), view, limit, family, f"{col} {op} {n}")
    if family == "department":
        dept = rng.choice(sorted(_DEPT_WORDS))
        text = "show " + rng.choice(_DEPT_WORDS[dept])
        return Request(text, view, limit, family, f"regexp_matches(department, '{dept}', 'i')")
    if family == "name":
        return Request(rng.choice(("list all names", "show the names")), view, limit, family, "TRUE")
    return Request(rng.choice(("find all employees", "show everything")), view, limit, family, "TRUE")


_COMBOS = [(v, lim, fam) for v in VIEWS for lim in LIMITS for fam in FAMILIES]


def nl_requests(seed: int, blocks: int = 10) -> list[Request]:
    """The seed's request list; clients take it round-robin.

    Requests come in shuffled blocks, each holding every (view, limit,
    family) combination once with its own random threshold and wording, so
    any window of a few dozen requests has nearly the same mix whatever
    the seed; the seed moves thresholds, wording and order.
    """
    rng = random.Random(seed)
    out: list[Request] = []
    for _ in range(blocks):
        block = [_request(rng, *c) for c in _COMBOS]
        rng.shuffle(block)
        out.extend(block)
    return out


@dataclass
class OpResult:
    name: str
    latency_s: float
    ok: bool
    detail: str = ""


@dataclass
class Ctx:
    """What a workload needs from the run."""

    spark: object
    entry: object  # the __spark_entry__ module
    data_dir: str
    sink_dir: str  # the Spark driver's tempfile dir: replay staging and sink output
    seed: int
    table_bytes: dict[str, int]
    tracer: object = NullTracer()  # a tracing.Tracer in the traced window


def _closed_loop(n_ops: int, n_clients: int, step) -> list[OpResult]:
    """``n_clients`` threads call ``step(client, k)`` for k = 0 .. n_ops-1,
    each taking the next k when its previous op has finished."""
    out: list[list[OpResult]] = [[] for _ in range(n_clients)]
    ks = iter(range(n_ops))
    lock = threading.Lock()

    def client(i: int) -> None:
        while True:
            with lock:
                k = next(ks, None)
            if k is None:
                return
            out[i].append(step(i, k))

    threads = [threading.Thread(target=client, args=(i,)) for i in range(n_clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return [r for rs in out for r in rs]


class NlServe:
    name = "nl_serve"
    scale = 1.0
    tables = ("customer", "lineitem")
    clients = 2
    #: Requests per second of window length: a window is a fixed number of
    #: requests, about ``--seconds`` long on a calm host, so that every run
    #: measures the same stretch of the JIT warm-up curve.
    RATE = 6
    #: Requests of closed loop before the window (see ``check``).
    WARM_OPS = 80

    def setup(self, ctx: Ctx) -> None:
        """Build the engine and app over the two views (part of set-up)."""
        from nlp_to_nosql_spark.api import Engine
        from nlp_to_nosql_spark.server import create_app

        spark = ctx.spark
        engine = Engine(spark)
        engine.register("employees", spark.sql(ctx.entry.EMPLOYEES_VIEW_SQL))
        engine.register("lineitem_staff", spark.sql(LINEITEM_STAFF_SQL))
        self.app = create_app(engine)

    def oracle(self, entry, data_dir: str, seed: int) -> dict[tuple[str, str], int]:
        """DuckDB count of every request's predicate over its view's SQL."""
        con = oracle.connect(data_dir, self.tables)
        con.execute(f"CREATE TABLE employees AS {entry.EMPLOYEES_VIEW_SQL}")
        con.execute(f"CREATE TABLE lineitem_staff AS {LINEITEM_STAFF_SQL}")
        keys = {(r.view, r.predicate) for r in nl_requests(seed)}
        out = {k: con.execute(f"SELECT count(*) FROM {k[0]} WHERE {k[1]}").fetchone()[0] for k in keys}
        con.close()
        return out

    def prepare(self, ctx: Ctx, expected) -> None:
        self.requests = nl_requests(ctx.seed)
        self.offset = 0
        self.expected = expected

    def data_tables(self, entry) -> tuple[str, ...]:
        return self.tables

    def check(self, ctx: Ctx) -> tuple[int, list[str]]:
        """Every reply is checked inline; this runs ``WARM_OPS`` requests
        of the closed loop before the window, a fixed amount of work so
        that every run starts its window equally warm.  The serving path
        keeps getting faster for a long while (JIT): in a 4-client probe
        the CPU per request fell from 0.98 s in the first ten requests to
        about 0.31 s after 250."""
        results = self.round(ctx, self.WARM_OPS)
        return len(results), [r.detail for r in results if not r.ok]

    def _one(self, client, req: Request, ctx: Ctx) -> OpResult:
        body = {"input": req.text, "collection": req.view, "limit": req.limit}
        t0 = time.perf_counter()
        with ctx.tracer.span("server.query"):
            resp = client.post("/query", json=body)
        dt = time.perf_counter() - t0
        name = f"{req.family}/{req.view}/{req.limit}"
        data = resp.get_json(silent=True) or {}
        want = self.expected[(req.view, req.predicate)]
        if resp.status_code != 200 or not data.get("ok"):
            return OpResult(name, dt, False, f"{req.text!r}: status {resp.status_code}")
        if data["total_matching"] != want:
            return OpResult(
                name, dt, False, f"{req.text!r} on {req.view}: total {data['total_matching']} != {want}"
            )
        if data["result_count"] != min(req.limit, want) or len(data["results"]) != data["result_count"]:
            return OpResult(name, dt, False, f"{req.text!r}: result_count {data['result_count']}")
        ctx.tracer.count("rows_returned", data["result_count"])
        return OpResult(name, dt, True)

    def window(self, seconds: float) -> list[int]:
        """The window's rounds: one closed loop of ``RATE * seconds`` requests."""
        return [max(1, round(self.RATE * seconds))]

    def round(self, ctx: Ctx, n_ops: int) -> list[OpResult]:
        """The closed loop for ``n_ops`` requests; the request stream
        continues from round to round."""
        clients = [self.app.test_client() for _ in range(self.clients)]
        n = len(self.requests)
        offset = self.offset

        def step(i: int, k: int) -> OpResult:
            idx = (offset + k) % n
            ctx.tracer.set_op(idx)
            return self._one(clients[i], self.requests[idx], ctx)

        results = _closed_loop(n_ops, self.clients, step)
        self.offset = offset + n_ops
        return results


# ---------------------------------------------------------------------------
# batch_pipeline
# ---------------------------------------------------------------------------

_TABLE_RE = re.compile(r"\b(" + "|".join(TABLES) + r")\b")


def query_tables(sql: str) -> tuple[str, ...]:
    """Tables an oracle SQL text reads (table names as whole words)."""
    return tuple(sorted(set(_TABLE_RE.findall(sql))))


def _wipe(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f)) for root, _, files in os.walk(path) for f in files
    )


class BatchPipeline:
    """LLM-data curation operators and the write side: a Structured
    Streaming replay through a state-store windowed count, a JSON round
    trip through the package's format writer and reader, and a parquet
    small-file compaction round trip.

    Queries run one after another, each to the ``noop`` sink, with
    ``clearCache`` between them; the seed sets the order of each pass.  A
    round is one whole pass and a window at least two.  Tables are at a
    twentieth of sf0.1 so that a pass takes a few seconds; the queries
    stay bound by job dispatch, as at full scale.  An odd number of
    queries keeps the median op inside one query's latencies.
    """

    name = "batch_pipeline"
    scale = 0.05
    #: Seconds of window length per pass: a pass takes about 5 s on a calm
    #: host, and the window is a fixed number of passes so that every run
    #: measures the same stretch of the JIT warm-up curve.
    PASS_S = 5.0
    #: (query name, layer tag of its main module)
    queries = (
        ("dedup10_minhash_md5_pairs", "operators.dedup"),
        ("dedup1_exact", "operators.dedup"),
        ("stream3_windowed_counts_stream", "streaming"),
        ("s4_json_roundtrip", "sources.formats"),
        ("s9_compaction_roundtrip", "sources.parquet"),
    )

    def data_tables(self, entry) -> tuple[str, ...]:
        oracles = entry.oracle_sql()
        return tuple(sorted({t for q, _ in self.queries for t in query_tables(oracles[q])}))

    def setup(self, ctx: Ctx) -> None:
        pass

    def oracle(self, entry, data_dir: str, seed: int):
        """Each query's ``oracle_sql()`` twin evaluated by DuckDB, as Arrow."""
        oracles = entry.oracle_sql()
        con = oracle.connect(data_dir, TABLES)
        out = {q: con.execute(oracles[q]).arrow() for q, _ in self.queries}
        con.close()
        return out

    def prepare(self, ctx: Ctx, expected) -> None:
        oracles = ctx.entry.oracle_sql()
        self.fns = ctx.entry.queries()
        self.expected = expected
        self.tag = dict(self.queries)
        self.input_bytes = {
            q: sum(ctx.table_bytes.get(t, 0) for t in query_tables(oracles[q])) for q, _ in self.queries
        }
        self.rng = random.Random(ctx.seed)
        self.order = self._pass_order()

    def _pass_order(self) -> list[str]:
        names = [q for q, _ in self.queries]
        self.rng.shuffle(names)
        return names

    def check(self, ctx: Ctx) -> tuple[int, list[str]]:
        """Each query once, collected to Arrow and compared with DuckDB,
        then one warm pass."""
        failures = []
        for q in self.order:
            _wipe(ctx.sink_dir)
            try:
                got = self.fns[q](ctx.spark, ctx.data_dir).toArrow()
                problem = oracle.compare(got, self.expected[q])
            except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
                problem = f"{type(exc).__name__}: {exc}"[:300]
            ctx.spark.catalog.clearCache()
            if problem:
                failures.append(f"{q}: {problem}")
        # One more pass to the noop sink before the window: the first noop
        # pass after the check ran 25-45 % slower than the ones after it.
        warm = self.round(ctx, 1)
        return len(self.queries) + len(warm), failures + [r.detail for r in warm if not r.ok]

    def _op(self, ctx: Ctx, q: str) -> OpResult:
        _wipe(ctx.sink_dir)
        tr = ctx.tracer
        tag = self.tag[q]
        tr.set_op(f"{q}#{tr.counts['ops']}" if tr.enabled else q)
        t0 = time.perf_counter()
        try:
            with tr.span("bench.op"):
                with tr.span(f"{tag}.construct"):
                    df = self.fns[q](ctx.spark, ctx.data_dir)
                with tr.span(f"{tag}.exec"):
                    df.write.mode("overwrite").format("noop").save()
        except Exception as exc:  # noqa: BLE001
            return OpResult(q, time.perf_counter() - t0, False, f"{q}: {exc}"[:300])
        dt = time.perf_counter() - t0
        if tr.enabled:
            from perfbench.sparkmetrics import catalyst_phases_ms

            tr.count("ops")
            for phase, ms in catalyst_phases_ms(df).items():
                tr.count(f"catalyst.{phase}_ms", ms)
            tr.count("written_bytes", dir_bytes(ctx.sink_dir))
            tr.count("input_bytes", self.input_bytes[q])
        ctx.spark.catalog.clearCache()
        return OpResult(q, dt, True)

    def window(self, seconds: float) -> list[int]:
        """The window's rounds: whole passes, one per ``PASS_S`` of window
        length and at least two."""
        return [1] * max(2, round(seconds / self.PASS_S))

    def round(self, ctx: Ctx, n_passes: int) -> list[OpResult]:
        """``n_passes`` whole passes; the seed shuffles the order of each."""
        results: list[OpResult] = []
        for _ in range(n_passes):
            results += [self._op(ctx, q) for q in self.order]
            self.order = self._pass_order()
        return results


WORKLOADS = {w.name: w for w in (NlServe, BatchPipeline)}
