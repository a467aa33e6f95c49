"""Similarity search: brute-force exactness vs numpy, LSH recall."""

import numpy as np
import pytest
from pyspark.sql import functions as F, types as T

from nlp_to_nosql_spark.operators.similarity import IntSRPLSH, topk_bruteforce

DIM = 16
N = 200


@pytest.fixture(scope="module")
def vectors():
    rng = np.random.RandomState(7)
    vecs = rng.randn(N, DIM).astype(np.float32)
    # plant two near-duplicates of vector 0
    vecs[1] = vecs[0] + rng.randn(DIM).astype(np.float32) * 0.01
    vecs[2] = vecs[0] * 2.5  # same direction, different norm → cosine 1
    return vecs


@pytest.fixture(scope="module")
def vec_df(spark, vectors):
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vectors)], schema
    )


def numpy_topk(vectors, q, k):
    qn = q / np.linalg.norm(q)
    sims = (vectors / np.linalg.norm(vectors, axis=1, keepdims=True)) @ qn
    order = sorted(range(len(sims)), key=lambda i: (-round(float(sims[i]), 6), i))
    return order[:k]


def test_bruteforce_matches_numpy(vec_df, vectors):
    q = [float(x) for x in vectors[0]]
    got = [r["vec_id"] for r in topk_bruteforce(vec_df, q, k=10).collect()]
    assert got == numpy_topk(vectors.astype(np.float64), np.array(q), 10)


def test_bruteforce_self_is_top(vec_df, vectors):
    q = [float(x) for x in vectors[5]]
    rows = topk_bruteforce(vec_df, q, k=3).collect()
    assert rows[0]["vec_id"] == 5 and rows[0]["cos_sim"] == 1.0


def test_scale_invariance(vec_df, vectors):
    # vec 2 = 2.5 * vec 0 → cosine exactly 1 regardless of norm
    q = [float(x) for x in vectors[0]]
    rows = {r["vec_id"]: r["cos_sim"] for r in topk_bruteforce(vec_df, q, k=5).collect()}
    assert rows[2] == 1.0


def test_lsh_recall_on_neighbors(vec_df, vectors):
    q = [float(x) for x in vectors[0]]
    lsh = IntSRPLSH(dim=DIM, nbits=12, seed=42)
    approx = [r["vec_id"] for r in lsh.topk(vec_df, q, k=5, max_hamming=3).collect()]
    # the planted near-dups of vector 0 must be found
    assert 0 in approx and 1 in approx and 2 in approx


def test_lsh_neardup_pairs(vec_df):
    lsh = IntSRPLSH(dim=DIM, nbits=12, seed=42)
    pairs = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in lsh.neardup_pairs(vec_df, threshold=0.98).collect()
    }
    assert (0, 1) in pairs and (0, 2) in pairs and (1, 2) in pairs
    assert all(v >= 0.98 for v in pairs.values())


def test_embedding_neardup_exact(vec_df, vectors):
    from nlp_to_nosql_spark.operators.similarity import embedding_neardup_exact

    got = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in embedding_neardup_exact(vec_df, threshold=0.98).collect()
    }
    # exact all-pairs must find the planted near-dups of vector 0
    assert {(0, 1), (0, 2), (1, 2)} <= set(got)
    # and agree with numpy on every returned pair
    import numpy as np

    v = vectors.astype(np.float64)
    for (a, b), cs in got.items():
        want = float(v[a] @ v[b] / (np.linalg.norm(v[a]) * np.linalg.norm(v[b])))
        assert abs(cs - round(want, 6)) < 1e-6


def test_topk_batch_matches_per_query_bruteforce(vec_df, vectors):
    from nlp_to_nosql_spark.operators.similarity import topk_batch

    queries = [(i, [float(x) for x in vectors[i]]) for i in range(4)]
    got = topk_batch(vec_df, queries, k=7).collect()
    by_query = {}
    for r in got:
        by_query.setdefault(r["query_id"], []).append(r)
    assert set(by_query) == {0, 1, 2, 3}
    for qid, rows in by_query.items():
        # rows come back rank-ordered within the window; re-sort defensively
        rows = sorted(rows, key=lambda r: (-r["cos_sim"], r["vec_id"]))
        expect = numpy_topk(vectors, np.asarray(vectors[qid], dtype=np.float64), 7)
        assert [r["vec_id"] for r in rows] == expect


def test_topk_batch_partial_pruning_is_lossless(vec_df, vectors):
    """Many tiny partitions → per-batch pruning is exercised hard; the
    merged result must still equal the single-scan answer."""
    from nlp_to_nosql_spark.operators.similarity import topk_batch

    shredded = vec_df.repartition(32)
    queries = [(0, [float(x) for x in vectors[0]])]
    got = [r["vec_id"] for r in topk_batch(shredded, queries, k=10).collect()]
    assert got == numpy_topk(vectors, np.asarray(vectors[0], dtype=np.float64), 10)


def test_topk_batch_zero_query_vector(vec_df, vectors):
    from nlp_to_nosql_spark.operators.similarity import topk_batch

    got = topk_batch(vec_df, [(99, [0.0] * DIM)], k=3).collect()
    assert len(got) == 3
    assert all(r["cos_sim"] == 0.0 for r in got)
    # tie on sim 0.0 everywhere → lowest ids win deterministically
    assert [r["vec_id"] for r in got] == [0, 1, 2]


def test_topk_per_group_exact(spark):
    from nlp_to_nosql_spark.operators.similarity import topk_per_group

    rows = [
        (1, [1.0, 0.0], 0),
        (2, [0.9, 0.1], 0),
        (3, [0.0, 1.0], 0),
        (4, [1.0, 0.1], 1),
        (5, [-1.0, 0.0], 1),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = {
        (r["label"], r["rnk"]): r["vec_id"]
        for r in topk_per_group(df, [1.0, 0.0], k=2, group_col="label").collect()
    }
    assert got == {(0, 1): 1, (0, 2): 2, (1, 1): 4, (1, 2): 5}


def test_label_centroids_integer_means(spark):
    from nlp_to_nosql_spark.operators.similarity import label_centroids

    df = spark.createDataFrame(
        [
            (1, [1.0, -0.5], 0),
            (2, [0.0, 0.5], 0),
            (3, [0.25, 0.25], 1),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    rows = {(r["label"], r["dim"]): r for r in label_centroids(df).collect()}
    assert len(rows) == 4
    # label 0: dim0 mean of (1e6, 0) = 500000; dim1 of (-5e5, 5e5) = 0
    assert rows[(0, 0)]["mean_micro"] == 500_000
    assert rows[(0, 1)]["mean_micro"] == 0
    assert rows[(0, 0)]["n_vecs"] == 2
    assert rows[(1, 0)]["mean_micro"] == 250_000 and rows[(1, 0)]["n_vecs"] == 1


def test_label_centroids_floor_scaling_is_order_independent(spark):
    """The micro-scaled sum must not depend on partition layout."""
    from nlp_to_nosql_spark.operators.similarity import label_centroids

    rows = [(i, [((i * 37) % 100) / 99.0 - 0.5], 0) for i in range(200)]
    df1 = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    a = label_centroids(df1.repartition(1)).collect()[0]["mean_micro"]
    b = label_centroids(df1.repartition(13)).collect()[0]["mean_micro"]
    assert a == b


def test_centroid_similarity_known_geometry(spark):
    from nlp_to_nosql_spark.operators.similarity import centroid_similarity

    # label 0 centroid -> (1, 0); label 1 -> (0, 1); label 2 -> (1, 0)
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 0),
            (2, [0.0, 1.0], 1),
            (3, [0.5, 0.0], 2),
            (4, [1.5, 0.0], 2),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    rows = {
        (r["label_a"], r["label_b"]): r["cos_sim"]
        for r in centroid_similarity(df).collect()
    }
    assert len(rows) == 3  # unordered pairs of 3 labels
    assert rows[(0, 1)] == 0.0          # orthogonal
    assert rows[(0, 2)] == 1.0          # parallel
    assert rows[(1, 2)] == 0.0


def test_quantize_embeddings_codes_and_error_bound(spark):
    """Codes lie in [-levels, levels], extremes map exactly, the all-zero
    vector quantizes to zeros (not NaN), and per-component reconstruction
    error is bounded by the quantization step maxabs/levels."""
    from pyspark.sql import types as T

    from nlp_to_nosql_spark.operators.similarity import quantize_embeddings

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    df = spark.createDataFrame(
        [
            (1, [1.0, -1.0, 0.5, 0.0]),
            (2, [0.0, 0.0, 0.0, 0.0]),
            (3, [-2.0, 0.25, 1.0, -0.1]),
        ],
        schema,
    )
    out = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
    assert out[1]["codes"] == [127, -127, 63, 0]
    assert out[2]["codes"] == [0, 0, 0, 0] and out[2]["scale_micro"] == 0
    assert out[3]["codes"][0] == -127  # floor(-2.0 / 2.0 * 127) exactly
    for vid, vec in ((1, [1.0, -1.0, 0.5, 0.0]), (3, [-2.0, 0.25, 1.0, -0.1])):
        maxabs = max(abs(v) for v in vec)
        step = maxabs / 127
        scale = out[vid]["scale_micro"] / 1e6
        assert abs(scale - maxabs) <= 1e-6
        for v, c in zip(vec, out[vid]["codes"]):
            assert -127 <= c <= 127
            assert abs(v - c * maxabs / 127) <= step + 1e-12


def test_quantize_embeddings_matches_duckdb_twin(spark):
    import duckdb

    from nlp_to_nosql_spark.operators.similarity import (
        quantize_embeddings,
        quantize_sql,
    )

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    rows = [
        (i, [((i * 7 + j * 13) % 19 - 9) / 4.0 for j in range(6)])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, schema)
    got = sorted(
        (r["vec_id"], r["scale_micro"], tuple(r["codes"]))
        for r in quantize_embeddings(df).collect()
    )
    con = duckdb.connect()
    con.register("embeddings", df.toPandas())
    want = sorted(
        (r[0], r[1], tuple(r[2]))
        for r in con.execute(quantize_sql()).fetchall()
    )
    assert got == want


def test_quantize_maxabs_staged_once(spark):
    """The quantizer's maxabs must stay STAGED in its own projection:
    Catalyst does not CSE across HOF lambda bodies, so an inlined
    ``array_max`` inside the per-element code lambda re-evaluates O(d)
    work per element — O(d²) per vector (the winnowing-kernel trap).
    The optimized plan must carry exactly ONE ``array_max`` (the ``_m``
    alias), with the code lambda dividing by that attribute; the
    unstaged form showed three (scale_micro + the keep-condition + the
    lambda body).  If CollapseProject ever re-inlines the alias, this
    count goes back up and the regression is caught here."""
    from pyspark.sql import types as T

    from nlp_to_nosql_spark.operators.similarity import quantize_embeddings

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    df = spark.createDataFrame([(1, [1.0, -1.0, 0.5])], schema)
    plan = (
        quantize_embeddings(df)._jdf.queryExecution().optimizedPlan().toString()
    )
    assert plan.count("array_max") == 1, plan


def test_quantize_long_form_equals_array_form(spark):
    """The contract's long form is a pure reshape of the array form: one
    (id, scale_micro, dim, code) row per component, no value drift — and
    its DuckDB twin agrees."""
    import duckdb

    from pyspark.sql import types as T

    from nlp_to_nosql_spark.operators.similarity import (
        quantize_embeddings,
        quantize_embeddings_long,
        quantize_long_sql,
    )

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    rows = [
        (i, [((i * 11 + j * 5) % 17 - 8) / 4.0 for j in range(6)])
        for i in range(30)
    ] + [(99, [0.0] * 6)]
    df = spark.createDataFrame(rows, schema)
    arr = {
        r["vec_id"]: (r["scale_micro"], list(r["codes"]))
        for r in quantize_embeddings(df).collect()
    }
    long_rows = quantize_embeddings_long(df).collect()
    assert len(long_rows) == len(rows) * 6
    rebuilt: dict = {}
    for r in long_rows:
        sm, codes = rebuilt.setdefault(r["vec_id"], (r["scale_micro"], {}))
        assert sm == r["scale_micro"]
        codes[r["dim"]] = r["code"]
    assert {
        k: (sm, [codes[d] for d in sorted(codes)])
        for k, (sm, codes) in rebuilt.items()
    } == arr
    con = duckdb.connect()
    con.register("embeddings", df.toPandas())
    want = sorted(con.execute(quantize_long_sql()).fetchall())
    got = sorted(
        (r["vec_id"], r["scale_micro"], r["dim"], r["code"])
        for r in long_rows
    )
    assert got == want


def test_matryoshka_truncation_recall(spark):
    """Recall@10 of 16-dim-prefix cosine vs the full 64-dim ranking —
    the measured accuracy number for the truncated retrieval tier."""
    import os

    from pyspark.sql import functions as F

    from nlp_to_nosql_spark.operators.similarity import topk_bruteforce
    from nlp_to_nosql_spark.sources.catalog import register_tables

    sf_dir = "/root/testdata/sf0.01"
    if not os.path.isdir(sf_dir):
        import pytest

        pytest.skip("testdata not present")
    emb = register_tables(spark, sf_dir)["embeddings"].cache()
    q = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]
    ]
    full = {r["vec_id"] for r in topk_bruteforce(emb, q, k=10).collect()}
    trunc_df = emb.select(
        "vec_id", F.slice(F.col("embedding"), 1, 16).alias("embedding")
    )
    trunc = {
        r["vec_id"] for r in topk_bruteforce(trunc_df, q[:16], k=10).collect()
    }
    recall = len(full & trunc) / 10
    print(f"matryoshka 16/64 recall@10 = {recall}")
    # near-random synthetic embeddings: prefix carries ~1/4 of the
    # signal, so overlap is well above chance (10/500) but far from 1.
    assert recall >= 0.1


def test_dimension_stats_exact(spark):
    from nlp_to_nosql_spark.operators.similarity import dimension_stats

    df = spark.createDataFrame(
        [(0, [1.0, -1.0]), (1, [1.0, 1.0]), (2, [1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    got = {r["dim"]: r for r in dimension_stats(df).collect()}
    # dim 0 constant: variance exactly 0; dim 1 mean 0, var = 2/3 micro^2
    assert got[0]["mean_micro"] == 1_000_000 and got[0]["var_micro2"] == 0
    assert got[1]["mean_micro"] == 0
    assert got[1]["var_micro2"] == int((2 * 10**12) / 3)
    assert all(r["n_vecs"] == 3 for r in got.values())


def test_neardup_exact_scale_guard(spark, vec_df, monkeypatch):
    """The exact O(n²) tier fails fast above the row ceiling (pointing
    at the LSH tier) and is unchanged at it — on both the self-sizing
    path (n_blocks=None) and the explicit-n_blocks path, where the probe
    is LIMIT-bounded."""
    from nlp_to_nosql_spark.operators import similarity as sim

    def pairs():
        return {
            (r["id_a"], r["id_b"])
            for r in sim.embedding_neardup_exact(
                vec_df, threshold=0.98
            ).collect()
        }

    default = pairs()
    n = vec_df.count()
    monkeypatch.setattr(sim, "_EXACT_MAX_ROWS", n - 1)
    with pytest.raises(ValueError, match="neardup_pairs"):
        sim.embedding_neardup_exact(vec_df, threshold=0.98)
    with pytest.raises(ValueError, match="neardup_pairs"):
        sim.embedding_neardup_exact(vec_df, threshold=0.98, n_blocks=2)

    # At exactly the ceiling results are the ones far below it.
    monkeypatch.setattr(sim, "_EXACT_MAX_ROWS", n)
    at_limit = pairs()
    assert at_limit == default and {(0, 1), (0, 2), (1, 2)} <= at_limit


def test_int_srp_signatures_match_duckdb_bitexact(spark):
    """IntSRPLSH's claim: every sign bit is an exact BIGINT dot sign,
    reproducible in DuckDB — including hostile components (negative,
    zero vectors, values whose float micro-scaling must floor
    identically)."""
    import duckdb

    vecs = [
        (0, [0.5, -0.25, 0.125, 1.0]),
        (1, [-0.999999, 0.000001, 0.3333333, -0.7]),
        (2, [0.0, 0.0, 0.0, 0.0]),          # zero vector: all dots 0 -> sig 0
        (3, [1e-7, -1e-7, 2.5, -2.5]),
        (4, [0.1, 0.2, 0.3, 0.4]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    lsh = IntSRPLSH(dim=4, nbits=8, seed=7)
    got = {
        r["vec_id"]: r["sign_bits"]
        for r in lsh.add_signatures(df).select("vec_id", "sign_bits").collect()
    }
    assert got[2] == 0  # > 0 convention: zero dots set no bits

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE embeddings (vec_id BIGINT, embedding DOUBLE[])"
    )
    con.executemany("INSERT INTO embeddings VALUES (?, ?)", vecs)
    want = dict(
        con.execute(
            "WITH planes AS (SELECT b, j, CAST(CAST('0x' || "
            "substr(md5('srp:7:' || b || ':' || j), 1, 6) AS UBIGINT) "
            "AS BIGINT) - 8388608 AS c "
            "FROM range(0, 8) t(b), range(0, 4) u(j)), "
            "mx AS (SELECT vec_id, CAST(i AS BIGINT) AS j, "
            "CAST(FLOOR(CAST(embedding[i + 1] AS DOUBLE) * 1000000) "
            "AS BIGINT) AS m FROM embeddings, "
            "UNNEST(range(0, len(embedding))) u(i)), "
            "dots AS (SELECT mx.vec_id, p.b, SUM(p.c * mx.m) AS s "
            "FROM mx JOIN planes p ON p.j = mx.j GROUP BY 1, 2) "
            "SELECT vec_id, CAST(SUM(CASE WHEN s > 0 THEN "
            "(CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) "
            "FROM dots GROUP BY 1"
        ).fetchall()
    )
    assert got == want

    # The driver-side query signature uses the same integer math.
    for vid, v in vecs:
        assert lsh.signature_of(v) == got[vid]


def test_int_srp_arrow_matches_signature_of(spark):
    """The Arrow numpy-matmul signature pass must produce, row for row,
    the sign_bits of the pure-Python integer reference
    (``signature_of``), including the all-zero vector."""
    rng = __import__("numpy").random.RandomState(11)
    vecs = [
        (i, [float(x) for x in rng.randn(16)]) for i in range(200)
    ] + [(200, [0.0] * 16)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    lsh = IntSRPLSH(dim=16, nbits=12, seed=3)
    got = {
        r["vec_id"]: r["sign_bits"]
        for r in lsh.add_signatures(df).collect()
    }
    assert got == {vid: lsh.signature_of(v) for vid, v in vecs}


def test_int_srp_ragged_input_fails_fast(spark):
    """Round-6 advice: a vector shorter than dim must raise, not sign a
    partial dot that DuckDB's relational replay would not reproduce."""
    import pytest

    df = spark.createDataFrame(
        [(0, [0.1, 0.2, 0.3, 0.4]), (1, [0.1, 0.2, 0.3])],
        "vec_id long, embedding array<double>",
    )
    lsh = IntSRPLSH(dim=4, nbits=4, seed=5)
    with pytest.raises(Exception, match="dim"):
        lsh.add_signatures(df).collect()
    with pytest.raises(ValueError, match="dim"):
        lsh.signature_of([0.1, 0.2, 0.3])


def test_hard_negative_topk_excludes_query_label_and_is_exact(spark):
    """Hard negatives: nearest different-label vectors only, exact rank,
    one topk_batch pass per distinct query label."""
    from nlp_to_nosql_spark.operators.similarity import hard_negative_topk

    rows = [
        (0, [1.0, 0.0], "a"),
        (1, [0.99, 0.1], "a"),   # nearest to q0 but SAME label -> excluded
        (2, [0.9, 0.2], "b"),
        (3, [0.0, 1.0], "b"),
        (4, [0.5, 0.5], "c"),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    got = [
        (r["query_id"], r["vec_id"])
        for r in hard_negative_topk(
            df, [(0, [1.0, 0.0], "a"), (3, [0.0, 1.0], "b")], k=2
        )
        .orderBy("query_id", "cos_sim", ascending=[True, False])
        .collect()
    ]
    # q0 (label a): nearest non-a are 2 (0.976) then 4 (0.707)
    # q3 (label b): nearest non-b are 4 (0.707) then 1 (0.100)
    assert got == [(0, 2), (0, 4), (3, 4), (3, 1)]


# ---------------------------------------------------------------------------
# exact k-NN graph (blocked int-quantized cosine, mutual flag)
# ---------------------------------------------------------------------------


def _knn_twin(vecs, k, levels=127):
    """Pure-python twin: quantize (floor x/maxabs*levels), all-pairs
    rounded quantized cosine, (sim desc, dst asc) top-k, mutual flag."""
    import math

    codes = {}
    for i, v in vecs:
        maxabs = max((abs(float(x)) for x in v), default=0.0)
        codes[i] = (
            [int(math.floor(float(x) / maxabs * levels)) for x in v]
            if maxabs > 0
            else [0] * len(v)
        )
    edges = {}
    for src in codes:
        cands = []
        for dst in codes:
            if dst == src:
                continue
            a, b = codes[src], codes[dst]
            dot = sum(x * y for x, y in zip(a, b))
            na = math.sqrt(sum(x * x for x in a))
            nb = math.sqrt(sum(x * x for x in b))
            sim = round(dot / (na * nb), 6) if na * nb > 0 else 0.0
            cands.append((dst, sim))
        cands.sort(key=lambda t: (-t[1], t[0]))
        edges[src] = cands[:k]
    out = {}
    for src, cs in edges.items():
        for rank, (dst, sim) in enumerate(cs, 1):
            mutual = any(d == src for d, _ in edges.get(dst, []))
            out[(src, dst)] = (rank, sim, mutual)
    return out


def test_knn_graph_matches_pure_python_all_pairs(spark):
    from nlp_to_nosql_spark.operators.similarity import knn_graph

    import random

    rng = random.Random(7)
    vecs = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(30)
    ]
    vecs.append((30, [0.0] * 8))  # zero vector: sim 0 with everything
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    # block_size 8 forces multiple blocks → exercises the blocked merge
    got = {
        (r["src"], r["dst"]): (r["rank"], r["quant_sim"], r["mutual"])
        for r in knn_graph(df, k=3, block_size=8).collect()
    }
    assert got == _knn_twin(vecs, k=3)


def test_knn_graph_excludes_self_and_caps_k(spark):
    from nlp_to_nosql_spark.operators.similarity import knn_graph

    vecs = [(i, [1.0, float(i)]) for i in range(6)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    rows = knn_graph(df, k=10).collect()
    for r in rows:
        assert r["src"] != r["dst"]
    from collections import Counter

    per_src = Counter(r["src"] for r in rows)
    assert all(c == 5 for c in per_src.values())  # n-1 < k → all others


def test_knn_graph_mutual_flag_is_symmetric_membership(spark):
    from nlp_to_nosql_spark.operators.similarity import knn_graph

    import random

    rng = random.Random(3)
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(4)]) for i in range(20)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    edges = {
        (r["src"], r["dst"]): r["mutual"] for r in knn_graph(df, k=2).collect()
    }
    for (s, d), m in edges.items():
        assert m == ((d, s) in edges)


def test_knn_graph_scale_guard_refuses_oversize(spark, monkeypatch):
    from nlp_to_nosql_spark.operators import similarity as sim

    df = spark.createDataFrame(
        [(i, [1.0, 2.0]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    monkeypatch.setattr(sim, "_EXACT_MAX_ROWS", 10)
    with pytest.raises(ValueError, match="more than 10 rows"):
        sim.knn_graph(df, k=2)


# ---------------------------------------------------------------------------
# knn_graph_celled (ann14): per-IVF-cell exact graph
# ---------------------------------------------------------------------------


def _celled_fixture(spark, n=40, dim=8, seed=11):
    import random

    rng = random.Random(seed)
    vecs = [
        (i, [rng.uniform(-1, 1) for _ in range(dim)], i % 5)
        for i in range(n)
    ]
    return spark.createDataFrame(
        vecs, "vec_id long, embedding array<double>, label int"
    )


def test_knn_graph_celled_matches_duckdb_twin(spark):
    """ann14: fit, assignment, per-cell blocked graph, ranking, and
    mutual flag all replay value-exactly in the relational twin."""
    import duckdb

    from nlp_to_nosql_spark.operators.similarity import (
        knn_graph_celled,
        knn_graph_celled_sql,
    )

    df = _celled_fixture(spark)
    got = sorted(
        tuple(r)
        for r in knn_graph_celled(
            df, n_cells=3, k=2, block_size=4, sample_mod=1, sample_keep=1
        ).collect()
    )
    con = duckdb.connect()
    con.register("emb_t", df.toPandas())
    want = sorted(
        tuple(r)
        for r in con.execute(
            knn_graph_celled_sql(
                n_cells=3, k=2, dim=8, sample_mod=1, sample_keep=1,
                table="emb_t",
            )
        ).fetchall()
    )
    assert got == want and len(got) > 0


def test_knn_graph_celled_edges_stay_within_cells(spark):
    """No edge crosses a cell boundary, and per-src ranks are dense
    from 1 — the IVF containment contract."""
    from nlp_to_nosql_spark.operators.semdedup import (
        assign_cells,
        micro_kmeans_fit,
    )
    from nlp_to_nosql_spark.operators.similarity import knn_graph_celled

    df = _celled_fixture(spark)
    cents = micro_kmeans_fit(df, n_clusters=3, sample_mod=1, sample_keep=1)
    cells = {
        r["vec_id"]: r["cluster_id"]
        for r in assign_cells(df, cents).collect()
    }
    rows = knn_graph_celled(
        df, n_cells=3, k=2, sample_mod=1, sample_keep=1
    ).collect()
    by_src = {}
    for r in rows:
        assert cells[r["src"]] == cells[r["dst"]] == r["cell"]
        by_src.setdefault(r["src"], []).append(r["rank"])
    for ranks in by_src.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_knn_graph_celled_ceiling_applies_per_cell(spark, monkeypatch):
    """The exact-tier ceiling gates the LARGEST CELL, not the corpus:
    20 rows over 3 cells pass a ceiling of 12 that the global graph
    would refuse."""
    from nlp_to_nosql_spark.operators import similarity as sim

    df = _celled_fixture(spark, n=20)
    monkeypatch.setattr(sim, "_EXACT_MAX_ROWS", 12)
    with pytest.raises(ValueError, match="more than 12 rows"):
        sim.knn_graph(df, k=2)
    rows = sim.knn_graph_celled(
        df, n_cells=3, k=2, sample_mod=1, sample_keep=1
    ).collect()
    assert len(rows) > 0
    with pytest.raises(ValueError, match="largest cell"):
        sim.knn_graph_celled(
            df, n_cells=1, k=2, sample_mod=1, sample_keep=1
        ).collect()


def test_resolve_n_cells_contract():
    """auto = max(8, ceil(count / target)): floor at 8, exact integer
    ceiling above it, explicit ints pass through untouched."""
    from nlp_to_nosql_spark.operators.similarity import resolve_n_cells

    assert resolve_n_cells("auto", 0) == 8
    assert resolve_n_cells("auto", 512) == 8
    assert resolve_n_cells("auto", 4096) == 8
    assert resolve_n_cells("auto", 4097) == 9
    assert resolve_n_cells("auto", 512 * 1000) == 1000
    assert resolve_n_cells("auto", 512 * 1000 + 1) == 1001
    assert resolve_n_cells("auto", 100, target_cell_rows=7) == 15
    assert resolve_n_cells(3, 10**9) == 3
    with pytest.raises(ValueError, match="target_cell_rows"):
        resolve_n_cells("auto", 100, target_cell_rows=0)


def test_knn_graph_celled_auto_matches_duckdb_twin(spark):
    """ann14 auto mode, NON-floor resolution: 40 rows at
    target_cell_rows=4 resolve to 10 cells (> the floor of 8) on both
    engines — the scalar-subquery LIMIT in the twin derives the same
    count resolve_n_cells computes, so the auto path itself is
    value-oracled, not just the fixed-int path."""
    import duckdb

    from nlp_to_nosql_spark.operators.similarity import (
        knn_graph_celled,
        knn_graph_celled_sql,
        resolve_n_cells,
    )

    df = _celled_fixture(spark)
    assert resolve_n_cells("auto", 40, target_cell_rows=4) == 10
    got_df = knn_graph_celled(
        df, n_cells="auto", target_cell_rows=4, k=2, block_size=4,
        sample_mod=1, sample_keep=1,
    )
    got = sorted(tuple(r) for r in got_df.collect())
    # auto actually grew past the 8-cell floor: some edge lands in a
    # cell id >= 8 (singleton cells legitimately contribute no edges)
    assert max(r[2] for r in got) >= 8
    con = duckdb.connect()
    con.register("emb_t", df.toPandas())
    want = sorted(
        tuple(r)
        for r in con.execute(
            knn_graph_celled_sql(
                n_cells="auto", target_cell_rows=4, k=2, dim=8,
                sample_mod=1, sample_keep=1, table="emb_t",
            )
        ).fetchall()
    )
    assert got == want and len(got) > 0
