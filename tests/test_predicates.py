"""Predicate-compiler semantics (SURVEY §2.2 P1-P11) incl. Mongo null rules."""

import pytest

from nlp_to_nosql_spark.executor import execute
from nlp_to_nosql_spark.ir import QuerySpec
from nlp_to_nosql_spark.plans.compile import apply_spec
from nlp_to_nosql_spark.plans.predicates import UnsupportedOperatorError, compile_predicate


def names(df, spec_filter, projection=()):
    spec = QuerySpec(filter=spec_filter, projection=projection or ("name",), limit=1000)
    return sorted(r["name"] for r in apply_spec(df, spec).collect())


def test_gt_strict_boundary(employees):
    # salary exactly 60000 must NOT match $gt 60000
    out = names(employees, {"salary": {"$gt": 60000}})
    assert out == sorted(["Alice Adams", "Carol Chen", "Eve Evans", "Grace Gray", "Hank Hill"])


def test_lt(employees):
    assert names(employees, {"salary": {"$lt": 40000}}) == ["Ivy Irwin"]


def test_gte_lte_range_conjunction_same_field(employees):
    out = names(employees, {"salary": {"$gte": 45000, "$lte": 60000}})
    assert out == sorted(["Bob Brown", "Dan Diaz", "Dan Diaz", "Frank Ford"])


def test_eq_and_implicit_eq(employees):
    assert names(employees, {"salary": {"$eq": 60000}}) == ["Bob Brown"]
    assert names(employees, {"salary": 60000}) == ["Bob Brown"]


def test_ne_includes_nulls(employees):
    # Mongo $ne matches docs where the field is null/missing (SURVEY P7)
    out = names(employees, {"department": {"$ne": "sales"}})
    assert "Frank Ford" in out  # NULL department matches $ne
    assert "Dan Diaz" not in out


def test_eq_null_matches_null(employees):
    assert names(employees, {"department": None}) == ["Frank Ford"]
    assert names(employees, {"department": {"$eq": None}}) == ["Frank Ford"]


def test_in(employees):
    out = names(employees, {"department": {"$in": ["sales", "hr"]}})
    assert out == sorted(["Dan Diaz", "Dan Diaz", "Eve Evans", "Hank Hill"])


def test_in_with_null(employees):
    out = names(employees, {"department": {"$in": ["hr", None]}})
    assert out == sorted(["Eve Evans", "Frank Ford"])


def test_regex_case_insensitive(employees):
    # 'Engineering' (capital E) must match with $options i
    out = names(employees, {"department": {"$regex": "engineering", "$options": "i"}})
    assert out == sorted(["Alice Adams", "Bob Brown", "Grace Gray"])


def test_regex_case_sensitive_without_options(employees):
    out = names(employees, {"department": {"$regex": "engineering"}})
    assert out == sorted(["Alice Adams", "Grace Gray"])


def test_regex_is_substring_match(employees):
    # unanchored: 'eng' matches 'engineering' and 'Engineering' with i
    out = names(employees, {"department": {"$regex": "eng", "$options": "i"}})
    assert len(out) == 3


def test_cross_field_conjunction(employees):
    out = names(employees, {"salary": {"$gt": 50000}, "age": {"$lt": 40}})
    assert out == sorted(["Alice Adams", "Bob Brown", "Grace Gray"])


def test_iso_date_string_comparison(employees):
    # lexicographic compare is correct for ISO dates (SURVEY §1.2)
    out = names(employees, {"joining_date": {"$gt": "2021-01-01"}})
    assert out == sorted(["Bob Brown", "Dan Diaz", "Dan Diaz", "Ivy Irwin"])


def test_empty_filter_matches_all(employees):
    assert compile_predicate({}) is None
    assert len(names(employees, {})) == employees.count()


def test_unknown_field_matches_nothing(employees):
    assert names(employees, {"no_such_column": {"$gt": 1}}) == []


def test_unknown_operator_raises():
    with pytest.raises(UnsupportedOperatorError):
        compile_predicate({"a": {"$exists": True}})


def test_projection_unknown_column_dropped(employees):
    spec = QuerySpec(filter={}, projection=("name", "bogus"), limit=1000)
    df = apply_spec(employees, spec)
    assert df.columns == ["name"]


def test_projection_all_unknown_means_select_all(employees):
    spec = QuerySpec(filter={}, projection=("bogus",), limit=1000)
    assert apply_spec(employees, spec).columns == employees.columns


def test_limit_applied(spark, employees):
    """The executor applies the spec's limit to what it collects;
    apply_spec returns the unbounded relation the count runs on."""
    spec = QuerySpec(filter={}, projection=(), limit=3)
    assert apply_spec(employees, spec).count() == 10
    _, rows = execute(spark, spec, employees)
    assert len(rows) == 3


def test_predicates_push_down_to_parquet_scan(spark, tmp_path):
    # The compiled predicate must reach the scan (PushedFilters) — this is
    # the property that makes the plan survive 100 TB.
    p = str(tmp_path / "emp.parquet")
    spark.range(1000).selectExpr("id", "id * 2 as salary").write.parquet(p)
    df = spark.read.parquet(p)
    pred = compile_predicate({"salary": {"$gt": 100}}, df.columns)
    plan = df.filter(pred)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "GreaterThan(salary,100)" in plan


def test_unknown_field_mongo_missing_semantics(spark):
    """Unknown columns compile against NULL: positive operators match
    nothing; null-aware negatives match ALL rows (Mongo missing-field
    behavior, not blanket match-nothing)."""
    from nlp_to_nosql_spark.plans.predicates import compile_predicate

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    known = [f.name for f in df.schema.fields]
    n = df.count()

    def rows(tree):
        pred = compile_predicate(tree, known)
        return df.filter(pred).count()

    # positive predicates on a missing field: nothing matches
    assert rows({"ghost": {"$gt": 5}}) == 0
    assert rows({"ghost": "x"}) == 0
    assert rows({"ghost": {"$regex": "x"}}) == 0
    assert rows({"ghost": {"$in": [1, 2]}}) == 0
    # null-aware negatives: everything matches (missing ~ null)
    assert rows({"ghost": {"$ne": "x"}}) == n
    assert rows({"ghost": None}) == n
    assert rows({"ghost": {"$eq": None}}) == n
    assert rows({"ghost": {"$in": [1, None]}}) == n
    # $ne null excludes missing
    assert rows({"ghost": {"$ne": None}}) == 0
    # conjunction with a real predicate still applies the real side
    assert rows({"ghost": {"$ne": "x"}, "id": {"$gt": 1}}) == 1
