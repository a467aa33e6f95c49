"""Multi-format sources/sinks round-trips and the injected-LLM front end."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F, types as T

from nlp_to_nosql_spark.compiler.llm import LLMCompiler, build_prompt
from nlp_to_nosql_spark.sources.formats import (
    csv_bytes,
    read_table,
    to_parquet,
    write_csv,
    write_json,
)

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ]
)

ROWS = [(1, "alpha", 1.5), (2, "beta", 2.5), (3, "gamma", 3.5)]


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(ROWS, SCHEMA)


def _collect_sorted(frame):
    return sorted(tuple(r) for r in frame.collect())


def test_csv_roundtrip(spark, df, tmp_path):
    path = str(tmp_path / "t_csv")
    write_csv(df, path)
    back = read_table(spark, path, "csv", schema=SCHEMA)
    assert _collect_sorted(back) == _collect_sorted(df)


def test_json_roundtrip(spark, df, tmp_path):
    path = str(tmp_path / "t_json")
    write_json(df, path)
    back = read_table(spark, path, "json", schema=SCHEMA)
    assert _collect_sorted(back) == _collect_sorted(df)


def test_parquet_compaction(spark, df, tmp_path):
    path = str(tmp_path / "t_parq")
    to_parquet(df, path)
    back = read_table(spark, path)
    assert _collect_sorted(back) == _collect_sorted(df)


def test_read_rejects_unknown_format(spark):
    with pytest.raises(ValueError):
        read_table(spark, "/nowhere", "xml")


def test_csv_bytes_bounded(df):
    out = csv_bytes(df, limit=2).decode()
    lines = out.strip().splitlines()
    assert lines[0] == "id,name,score"
    assert len(lines) == 3  # header + 2 rows


def test_llm_compiler_uses_completion(spark, df):
    def fake_complete(prompt: str) -> str:
        # schema must be derived from the DataFrame, not hard-coded
        assert "- score (number)" in prompt
        return '```json\n{"filter": {"score": {"$gt": 2}}, "projection": {"name": 1}}\n```'

    spec = LLMCompiler(fake_complete).compile("high scorers", df.schema, "t")
    assert spec.filter == {"score": {"$gt": 2}}
    assert list(spec.projection) == ["name"]


def test_llm_compiler_repairs_single_quotes(df):
    spec = LLMCompiler(lambda p: "{'filter': {'name': 'alpha'}}").compile(
        "alpha", df.schema
    )
    assert spec.filter == {"name": "alpha"}


def test_llm_compiler_falls_back_on_error(df):
    def boom(prompt: str) -> str:
        raise RuntimeError("network down")

    spec = LLMCompiler(boom).compile("employees earning over 50000", df.schema)
    assert spec.filter == {"salary": {"$gt": 50000}}


def test_llm_compiler_none_is_rule_path(df):
    spec = LLMCompiler(None).compile("show sales people", df.schema)
    assert spec.filter == {"department": {"$regex": "sales", "$options": "i"}}


def test_prompt_contains_contract(df):
    p = build_prompt("find things", df.schema, "things")
    assert '"things" table' in p and "$regex" in p and "ONLY the JSON" in p


def test_orc_roundtrip(spark, df, tmp_path):
    from nlp_to_nosql_spark.sources.formats import read_table, write_orc

    path = str(tmp_path / "orc_rt")
    write_orc(df, path)
    back = read_table(spark, path, fmt="orc")
    assert sorted(r["name"] for r in back.collect()) == sorted(
        r["name"] for r in df.collect()
    )
    assert back.schema == df.schema


def test_compaction_produces_target_file_count(spark, tmp_path):
    """Compaction must actually consolidate: 16 fragment files in, the
    requested 2 part-files out, same rows."""
    import os

    df = spark.range(1000).selectExpr("id", "id * 2 AS v")
    frag = str(tmp_path / "frag")
    compact = str(tmp_path / "compact")
    df.repartition(16).write.parquet(frag)
    spark.read.parquet(frag).repartition(2).write.parquet(compact)

    def parts(d):
        return [f for f in os.listdir(d) if f.startswith("part-")]

    assert len(parts(frag)) == 16
    assert len(parts(compact)) == 2
    assert spark.read.parquet(compact).count() == 1000


def test_schema_merge_read_fills_missing_columns_with_nulls(spark, tmp_path):
    import os

    base = str(tmp_path / "merge")
    spark.createDataFrame([(1, 10)], "k long, a long").write.parquet(
        os.path.join(base, "src=1")
    )
    spark.createDataFrame([(2, 20)], "k long, b long").write.parquet(
        os.path.join(base, "src=2")
    )
    out = {
        (r["k"], r["a"], r["b"], r["src"])
        for r in spark.read.option("mergeSchema", "true").parquet(base).collect()
    }
    assert out == {(1, 10, None, 1), (2, None, 20, 2)}


def test_json_read_quarantines_corrupt_records(spark, tmp_path):
    """Malformed JSONL lines must quarantine into the corrupt-record
    column (PERMISSIVE), not fail the batch — the posture a 100 TB
    ingest needs when one crawler shard is truncated mid-line."""
    from pyspark.sql import functions as F

    p = tmp_path / "feed.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "ok"}\n'
        '{"doc_id": 2, "text": "also ok"}\n'
        '{"doc_id": 3, "text": "truncated...\n'
    )
    df = read_table(
        spark,
        str(p),
        "json",
        schema="doc_id long, text string, _corrupt string",
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_corrupt",
    )
    # Spark disallows filtering ONLY on the corrupt column of a raw
    # file scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN); cache first -- the
    # documented workaround.
    df = df.cache()
    good = df.filter(F.col("_corrupt").isNull())
    bad = df.filter(F.col("_corrupt").isNotNull())
    assert good.count() == 2 and bad.count() == 1
    assert {r["doc_id"] for r in good.collect()} == {1, 2}
    assert "truncated" in bad.first()["_corrupt"]
