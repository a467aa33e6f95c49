"""Product quantization tests (operators/pq.py)."""

import math
import os

import pytest
from pyspark.sql import functions as F

from nlp_to_nosql_spark.operators.pq import (
    PQModel,
    adc_topk,
    adc_topk_sql,
    fit_pq,
    pq_codes_sql,
    pq_encode,
)
from nlp_to_nosql_spark.sources.catalog import register_tables

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_BIG = "/root/testdata/sf0.01"
needs_data = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="testdata not present"
)


def _ref_encode(vec, model):
    d0 = model.sub_dim
    vm = [math.floor(float(x) * 1_000_000) for x in vec]
    codes = []
    for s in range(model.m):
        best, bestd = None, None
        for j, cent in enumerate(model.centroids):
            d = sum(
                (vm[s * d0 + i] - cent[s * d0 + i]) ** 2 for i in range(d0)
            )
            if bestd is None or d < bestd:
                best, bestd = j, d
        codes.append(best)
    return codes


@pytest.fixture(scope="module")
def tiny(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0, 0.1]),
        (3, [0.0, 0.0, 1.0, 1.0]),
        (4, [0.1, 0.9, 0.9, 0.0]),
        (5, [0.5, 0.5, 0.5, 0.5]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_encode_matches_python_reference(tiny):
    model = fit_pq(tiny, m=2, k=4, seed=7)
    assert model.sub_dim == 2 and 1 <= len(model.centroids) <= 4
    got = {r["vec_id"]: list(r["codes"]) for r in pq_encode(tiny, model).collect()}
    rows = {r["vec_id"]: r["embedding"] for r in tiny.collect()}
    for vid, vec in rows.items():
        assert got[vid] == _ref_encode(vec, model), vid


def test_tie_breaks_to_lowest_code(spark):
    # two IDENTICAL centroids: every vector must pick the lower index
    model = PQModel(
        m=1, k=2, dim=2, seed=0, centroids=[[0, 0], [0, 0]]
    )
    df = spark.createDataFrame(
        [(0, [0.5, 0.5]), (1, [1.0, -1.0])], "vec_id long, embedding array<float>"
    )
    codes = {r["vec_id"]: list(r["codes"]) for r in pq_encode(df, model).collect()}
    assert codes == {0: [0], 1: [0]}


def test_encode_is_zero_shuffle(tiny):
    model = fit_pq(tiny, m=2, k=4, seed=7)
    plan = pq_encode(tiny, model)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


@needs_data
def test_codes_match_duckdb(spark):
    import duckdb

    emb = register_tables(spark, SF_DIR)["embeddings"]
    model = fit_pq(emb, m=4, k=16, seed=7)
    got = {
        r["vec_id"]: list(r["codes"]) for r in pq_encode(emb, model).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS "
        f"SELECT * FROM read_parquet('{SF_DIR}/embeddings.parquet')"
    )
    want = dict(con.execute(pq_codes_sql()).fetchall())
    assert {k: list(v) for k, v in want.items()} == got


@needs_data
def test_adc_matches_duckdb(spark):
    import duckdb

    emb = register_tables(spark, SF_DIR)["embeddings"]
    model = fit_pq(emb, m=4, k=16, seed=7)
    q = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    got = [
        (r["vec_id"], r["adc_dist"])
        for r in adc_topk(emb, model, q, k_results=10).collect()
    ]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS "
        f"SELECT * FROM read_parquet('{SF_DIR}/embeddings.parquet')"
    )
    want = con.execute(adc_topk_sql(query_id=0, k_results=10)).fetchall()
    assert [(int(a), int(b)) for a, b in want] == got


@needs_data
def test_adc_recall_vs_exact(spark):
    """PQ is approximate by construction — recall@10 vs the exact float
    ranking is its correctness number (printed; floor asserted)."""
    from nlp_to_nosql_spark.operators.similarity import topk_bruteforce

    emb = register_tables(spark, SF_DIR_BIG)["embeddings"].cache()
    model = fit_pq(emb, m=4, k=16, seed=7)
    q = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    exact = {r["vec_id"] for r in topk_bruteforce(emb, q, k=10).collect()}
    approx = {
        r["vec_id"] for r in adc_topk(emb, model, q, k_results=10).collect()
    }
    recall = len(exact & approx) / 10
    print(f"pq adc recall@10 = {recall}")
    # 16-cell sampled codebook on 64d: coarse, but the true neighbors
    # share cells with the query far above chance.
    assert recall >= 0.3


@needs_data
def test_rerank_matches_duckdb(spark):
    import duckdb

    from nlp_to_nosql_spark.operators.pq import adc_rerank_sql, adc_rerank_topk

    emb = register_tables(spark, SF_DIR)["embeddings"]
    model = fit_pq(emb, m=4, k=16, seed=7)
    q = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    got = [
        (r["vec_id"], r["exact_dist"])
        for r in adc_rerank_topk(emb, model, q, k_results=10, shortlist=50).collect()
    ]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS "
        f"SELECT * FROM read_parquet('{SF_DIR}/embeddings.parquet')"
    )
    want = con.execute(adc_rerank_sql(query_id=0, k_results=10, shortlist=50)).fetchall()
    assert [(int(a), int(b)) for a, b in want] == got


@needs_data
def test_rerank_recall_vs_exact(spark):
    from nlp_to_nosql_spark.operators.pq import adc_rerank_topk
    from nlp_to_nosql_spark.operators.similarity import topk_bruteforce

    emb = register_tables(spark, SF_DIR_BIG)["embeddings"].cache()
    model = fit_pq(emb, m=4, k=16, seed=7)
    q = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    exact = {r["vec_id"] for r in topk_bruteforce(emb, q, k=10).collect()}
    approx = {
        r["vec_id"]
        for r in adc_rerank_topk(emb, model, q, k_results=10, shortlist=50).collect()
    }
    recall = len(exact & approx) / 10
    print(f"pq adc+rerank recall@10 = {recall}")
    assert recall >= 0.5


@needs_data
def test_ivfpq_matches_duckdb(spark):
    import duckdb

    from nlp_to_nosql_spark.operators.pq import ivfpq_topk, ivfpq_topk_sql

    emb = register_tables(spark, SF_DIR)["embeddings"]
    coarse = fit_pq(emb, m=1, k=8, seed=11)
    fine = fit_pq(emb, m=4, k=16, seed=7)
    q = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    got = [
        (r["vec_id"], r["adc_dist"])
        for r in ivfpq_topk(emb, coarse, fine, q, nprobe=2, k_results=10).collect()
    ]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS "
        f"SELECT * FROM read_parquet('{SF_DIR}/embeddings.parquet')"
    )
    want = con.execute(
        ivfpq_topk_sql(query_id=0, nprobe=2, k_results=10)
    ).fetchall()
    assert [(int(a), int(b)) for a, b in want] == got


@needs_data
def test_ivfpq_recall_curve(spark):
    """Recall follows nprobe — the IVF-PQ contract; full probe recovers
    pure-ADC (the coarse stage then prunes nothing)."""
    from nlp_to_nosql_spark.operators.pq import ivfpq_topk

    emb = register_tables(spark, SF_DIR_BIG)["embeddings"].cache()
    coarse = fit_pq(emb, m=1, k=8, seed=11)
    fine = fit_pq(emb, m=4, k=16, seed=7)
    q = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    adc_full = {
        r["vec_id"] for r in adc_topk(emb, fine, q, k_results=10).collect()
    }
    by_probe = {}
    for nprobe in (1, 4, 8):
        got = {
            r["vec_id"]
            for r in ivfpq_topk(
                emb, coarse, fine, q, nprobe=nprobe, k_results=10
            ).collect()
        }
        by_probe[nprobe] = len(got & adc_full) / 10
    print(f"ivfpq recall-vs-adc by nprobe: {by_probe}")
    assert by_probe[8] == 1.0  # full probe == pure ADC
    assert by_probe[1] <= by_probe[4] <= by_probe[8]


def test_ivfpq_rejects_multisubspace_coarse(tiny):
    from nlp_to_nosql_spark.operators.pq import ivfpq_topk

    fine = fit_pq(tiny, m=2, k=4, seed=7)
    with pytest.raises(ValueError):
        ivfpq_topk(tiny, fine, fine, [0.0] * 4)
