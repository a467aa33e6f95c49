"""Tests of the benchmark itself (no Spark needed).

Run from the checkout root: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys
import threading
import time
import types

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import datagen, run, workloads  # noqa: E402

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")


def _family(ir: dict) -> str:
    if ir["projection"]:
        return "name"
    if not ir["filter"]:
        return "find_all"
    col = next(iter(ir["filter"]))
    return {"experience_years": "experience"}.get(col, col)


def test_same_seed_same_requests_other_seed_differs():
    assert workloads.nl_requests(7) == workloads.nl_requests(7)
    assert workloads.nl_requests(7) != workloads.nl_requests(8)


def test_same_seed_same_query_order_other_seed_differs():
    class Entry:
        @staticmethod
        def oracle_sql():
            return {q: "SELECT 1" for q, _ in workloads.BatchPipeline.queries}

        @staticmethod
        def queries():
            return {}

    def orders(seed):
        ctx = workloads.Ctx(None, Entry, "", "", seed, {})
        wl = workloads.BatchPipeline()
        wl.prepare(ctx, {})
        return [wl.order, wl._pass_order()]

    assert orders(3) == orders(3)
    assert orders(3) != orders(4)


def test_every_family_and_limit_appears_and_compiles_to_its_family():
    from nlp_to_nosql_spark.compiler.rules import nl_to_ir

    reqs = workloads.nl_requests(11)
    assert {r.family for r in reqs} == set(workloads.FAMILIES)
    assert {r.limit for r in reqs} == set(workloads.LIMITS)
    assert {r.view for r in reqs} == set(workloads.VIEWS)
    for r in reqs:
        assert _family(nl_to_ir(r.text)) == r.family, r


def test_metric_names_are_well_formed_and_match_benchmark_json():
    names = list(run.END_TO_END) + list(run.per_layer_metrics())
    assert all(NAME_RE.fullmatch(n) for n in names)
    assert len(names) == len(set(names))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_metrics()
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    assert len(spec["per_layer"]) <= 128


@pytest.mark.parametrize("table", datagen.TABLES)
def test_datagen_is_seeded(tmp_path, table):
    a = datagen.generate(str(tmp_path / "a"), 5, 0.01, (table,))
    b = datagen.generate(str(tmp_path / "b"), 5, 0.01, (table,))
    c = datagen.generate(str(tmp_path / "c"), 6, 0.01, (table,))
    read = lambda d: (tmp_path / d / f"{table}.parquet").read_bytes()  # noqa: E731
    assert a == b and read("a") == read("b")
    if table not in ("region", "nation"):
        assert read("a") != read("c")


def test_self_time_subtracts_children_and_accumulated_calls():
    from perfbench import tracing

    tr = tracing.Tracer()
    with tr.span("api.query"):
        time.sleep(0.02)
        with tr.span("executor.execute"):
            time.sleep(0.02)
            tr.accumulate("executor.sanitize", 0.005)
    st = tr.self_times()
    dur = tr.durations()
    assert st["api.query"] == pytest.approx(dur["api.query"][0] - dur["executor.execute"][0])
    assert st["executor.execute"] == pytest.approx(dur["executor.execute"][0] - 0.005)
    assert st["executor.sanitize"] == 0.005
    assert sum(st.values()) == pytest.approx(dur["api.query"][0])


def test_wrap_and_uninstall_restore_functions_and_classmethods():
    from perfbench import tracing

    class Spec:
        @classmethod
        def make(cls, x):
            return (cls, x)

    mod = types.SimpleNamespace(f=lambda x: x + 1)
    f0, m0 = mod.f, Spec.__dict__["make"]
    tr = tracing.Tracer()
    tr.wrap(mod, "f", "a.f")
    tr.wrap(Spec, "make", lambda cls, x: f"b.{x}")
    assert mod.f(1) == 2 and Spec.make(3) == (Spec, 3)
    assert [s[3] for s in tr.spans] == ["a.f", "b.3"]
    tr.uninstall()
    assert mod.f is f0 and Spec.__dict__["make"] is m0


def test_tracer_counts_lose_no_update_across_threads():
    from perfbench import tracing

    tr = tracing.Tracer()
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=lambda: [tr.count("n") for _ in range(5000)]) for _ in range(8)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert tr.counts["n"] == 8 * 5000


def test_window_is_a_fixed_amount_of_work_and_measures_every_round():
    assert workloads.NlServe().window(10) == [60]
    assert workloads.BatchPipeline().window(10) == [1, 1]
    assert workloads.BatchPipeline().window(30) == [1] * 6

    class Fake:
        def __init__(self):
            self.sizes = []

        def window(self, seconds):
            return [3, 2]

        def round(self, ctx, size):
            self.sizes.append(size)
            time.sleep(0.01 * size)
            return [workloads.OpResult("q", 0.01, True) for _ in range(size)]

    fake = Fake()
    results, e2e = run._measure(fake, None, 10)
    assert fake.sizes == [3, 2] and len(results) == 5
    assert [r["ops"] for r in e2e["rounds"]] == [3, 2]
    assert e2e["throughput_ops_s"] == pytest.approx(5 / sum(r["s"] for r in e2e["rounds"]), rel=0.05)


def test_closed_loop_runs_each_op_once_across_clients():
    seen = []
    lock = threading.Lock()

    def step(i, k):
        with lock:
            seen.append(k)
        return workloads.OpResult("q", 0.0, True)

    assert len(workloads._closed_loop(50, 3, step)) == 50
    assert sorted(seen) == list(range(50))


def test_null_tracer_serves_the_same_op_body():
    from perfbench import tracing

    tr = tracing.NullTracer()
    tr.set_op(1)
    with tr.span("server.query"):
        tr.count("rows_returned", 3)
    assert not tr.enabled and tracing.Tracer.enabled


def test_oracle_compare_is_type_tagged_and_order_insensitive():
    import decimal

    import pyarrow as pa

    from perfbench import oracle

    a = pa.table({"k": [1, 2], "v": [0.5, 1.5]})
    assert oracle.compare(a, pa.table({"v": [1.5, 0.5], "k": [2, 1]})) is None
    assert "type" in oracle.compare(a, pa.table({"k": [1, 2], "v": pa.array([1, 2], pa.int64())}))
    dec = pa.array([decimal.Decimal(1), decimal.Decimal(2)], pa.decimal128(10, 0))
    assert "type" in oracle.compare(pa.table({"k": dec, "v": [0.5, 1.5]}), a)
    assert "value" in oracle.compare(a, pa.table({"k": [1, 2], "v": [0.5, 1.5000001]}))
    assert "row count" in oracle.compare(a, a.slice(0, 1))
