"""Executor parity tests: (total, rows) contract, count degradation,
sanitization, response envelope (No_Sql.py:379-439; app_server.py:258-268)."""

import datetime

from nlp_to_nosql_spark.api import Engine
from nlp_to_nosql_spark.executor import execute, sanitize_row
from nlp_to_nosql_spark.ir import QuerySpec
from nlp_to_nosql_spark.timeout import budget_split


def test_total_is_prelimit_count(spark, employees, monkeypatch):
    import nlp_to_nosql_spark.executor as ex

    spec = QuerySpec(filter={"salary": {"$gt": 40000}}, limit=2)
    # generous budgets: this test asserts the exact count, so it must not
    # hit the (by-design) degradation path on a cold JVM
    monkeypatch.setattr(ex, "COUNT_TIMEOUT_S", 120)
    total, rows = execute(spark, spec, employees, query_timeout_s=120)
    assert len(rows) == 2
    assert total == 9  # all but Ivy (39999)


def test_empty_filter_count_fast_path(spark, employees):
    total, rows = execute(spark, QuerySpec(limit=1000), employees)
    assert total == 10 and len(rows) == 10


def test_projection_in_rows(spark, employees):
    spec = QuerySpec(filter={}, projection=("name",), limit=1000)
    _, rows = execute(spark, spec, employees)
    assert all(set(r.keys()) == {"name"} for r in rows)


def test_sanitize_row_stringifies_nonserializable():
    row = {"a": 1, "b": datetime.date(2024, 1, 1), "c": "x", "d": [1, 2], "e": None}
    out = sanitize_row(row)
    assert out["a"] == 1 and out["c"] == "x" and out["d"] == [1, 2] and out["e"] is None
    assert out["b"] == "2024-01-01"  # str() of date


def test_timestamp_columns_sanitized(spark):
    df = spark.createDataFrame(
        [(1, datetime.datetime(2024, 5, 1, 12, 0, 0))], "id: long, ts: timestamp"
    )
    _, rows = execute(spark, QuerySpec(limit=10), df)
    assert isinstance(rows[0]["ts"], str)


def test_count_degradation_on_failure(spark, employees, monkeypatch):
    import nlp_to_nosql_spark.executor as ex

    calls = {"n": 0}
    real = ex.run_with_timeout

    def flaky(spark_, action, timeout_s, group_desc=""):
        if group_desc == "execute:count":
            raise TimeoutError("simulated count timeout")
        return real(spark_, action, timeout_s, group_desc)

    monkeypatch.setattr(ex, "run_with_timeout", flaky)
    total, rows = execute(spark, QuerySpec(limit=3), employees)
    assert total == len(rows) == 3  # degraded to len(results)


def test_engine_envelope(spark, employees):
    eng = Engine(spark)
    eng.register("employees", employees)
    resp = eng.query("employees earning over 60000", "employees", limit=50)
    assert resp["ok"] is True
    assert resp["mongo_query"] == {"filter": {"salary": {"$gt": 60000}}, "projection": {}}
    assert resp["total_matching"] == 5 and resp["result_count"] == 5
    assert {"execution_time", "query_generation_time", "db_execution_time"} <= set(resp)


def test_engine_rejects_empty(spark):
    eng = Engine(spark)
    try:
        eng.compile("   ")
        raise AssertionError("should have raised")
    except ValueError:
        pass


def test_budget_split_matches_reference_arithmetic():
    gen, db = budget_split(30.0)
    assert gen <= 21.0  # 70% cap
    assert db >= 2.0
    gen60, db60 = budget_split(60.0)
    assert gen60 == 25.0  # min(60-5, 25)
    assert db60 == 34.0


def test_run_with_timeout_cancels_runaway_job(spark):
    import pytest
    """R1/R3: a genuinely slow Spark action is cancelled at the budget and
    raises QueryTimeoutError promptly instead of running to completion."""
    import time

    from nlp_to_nosql_spark.timeout import QueryTimeoutError, run_with_timeout

    big = spark.range(2_000_000).crossJoin(spark.range(50_000))
    t0 = time.time()
    with pytest.raises(QueryTimeoutError):
        run_with_timeout(spark, lambda: big.count(), timeout_s=2.0, group_desc="runaway")
    assert time.time() - t0 < 30  # cancelled, not run to completion


def test_run_with_timeout_propagates_action_error(spark):
    """The action's own exception leaves the guard unchanged (not as a
    timeout), and the cleared job group leaves the session usable."""
    import pytest

    from nlp_to_nosql_spark.timeout import run_with_timeout

    err = ValueError("boom")

    def boom():
        raise err

    with pytest.raises(ValueError) as info:
        run_with_timeout(spark, boom, timeout_s=30.0, group_desc="raises")
    assert info.value is err
    assert run_with_timeout(spark, spark.range(3).count, timeout_s=60.0) == 3


# ---------------------------------------------------------------------------
# property: ANY natural-language input produces a valid envelope — the
# compile→execute path never raises (rule-compiler fallback is total)
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_nl_words = st.sampled_from(
    ["employees", "salary", "above", "under", "50000", "age", "older",
     "30", "marketing", "engineers", "names", "experience", "than",
     "find", "all", "show", "earning", "more", "less", "hr", "человек",
     "''\"", "{}", "$gt", ""]
)


@given(
    st.lists(_nl_words, min_size=1, max_size=8)
    .map(" ".join)
    .filter(str.strip)
)
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_engine_query_total_on_arbitrary_nl(spark, employees, nl):
    eng = Engine(spark)
    eng.register("emp_fuzz", employees)
    resp = eng.query(nl, "emp_fuzz", limit=10)
    assert resp["ok"] is True
    assert isinstance(resp["mongo_query"], dict)
    assert resp["result_count"] == len(resp["results"])
    assert resp["total_matching"] >= resp["result_count"] or resp["result_count"] <= 10


def test_engine_rejects_blank_text(spark, employees):
    """Reference parity: empty/whitespace NL is rejected up front
    (No_Sql.py:213-214), not compiled to find-all."""
    import pytest as _pytest

    eng = Engine(spark)
    eng.register("emp_blank", employees)
    for blank in ("", "   "):
        with _pytest.raises(ValueError):
            eng.query(blank, "emp_blank")
