"""IVF index: exactness at nprobe=n_lists, recall at partial probe,
assignment completeness."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import types as T

from nlp_to_nosql_spark.operators import ivf
from nlp_to_nosql_spark.operators.ivf import IVFIndex
from nlp_to_nosql_spark.operators.similarity import topk_bruteforce

DIM = 8
N = 300

VEC_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)


@pytest.fixture(scope="module")
def clustered(spark):
    """Three well-separated Gaussian blobs, so IVF cells are meaningful."""
    rng = np.random.RandomState(11)
    centers = np.array([[10.0] * DIM, [-10.0] * DIM, [10.0, -10.0] * (DIM // 2)])
    vecs = np.concatenate(
        [c + rng.randn(N // 3, DIM) for c in centers]
    ).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)], VEC_SCHEMA
    )
    return df, vecs


def test_assignment_partitions_corpus(spark, clustered):
    df, _ = clustered
    idx = IVFIndex(n_lists=6, max_iter=4)
    assigned = idx.fit(df)
    assert assigned.count() == df.count()
    lists = {r["list_id"] for r in assigned.select("list_id").distinct().collect()}
    assert lists <= set(range(6))


def test_full_probe_is_exact(spark, clustered):
    df, vecs = clustered
    idx = IVFIndex(n_lists=4, max_iter=3)
    assigned = idx.fit(df).cache()
    q = [float(x) for x in vecs[0]]
    got = [(r["vec_id"], r["cos_sim"]) for r in idx.topk(assigned, q, k=10, nprobe=4).collect()]
    want = [(r["vec_id"], r["cos_sim"]) for r in topk_bruteforce(df, q, k=10).collect()]
    assert got == want
    assigned.unpersist()


def test_partial_probe_recall(spark, clustered):
    df, vecs = clustered
    idx = IVFIndex(n_lists=6, max_iter=4)
    assigned = idx.fit(df).cache()
    q = [float(x) for x in vecs[5]]
    got = {r["vec_id"] for r in idx.topk(assigned, q, k=10, nprobe=2).collect()}
    want = {r["vec_id"] for r in topk_bruteforce(df, q, k=10).collect()}
    # blobs are far apart: probing 2 of 6 cells must keep high recall
    assert len(got & want) >= 8
    assigned.unpersist()


def test_partitioned_index_probe_prunes_partitions(spark, clustered, tmp_path):
    """A probe against the list_id-partitioned index must (a) return the
    same answer as the in-memory probe, and (b) actually prune: the scan
    reads only the probed cells' hive partitions."""
    import contextlib
    import io

    from nlp_to_nosql_spark.operators.ivf import IVFIndex

    df, _ = clustered
    idx = IVFIndex(n_lists=4, max_iter=3)
    assigned = idx.fit(df)
    path = str(tmp_path / "ivf_index")
    idx.write_partitioned(assigned, path)

    q = [float(x) for x in df.filter("vec_id = 0").first()["embedding"]]
    mem = [r["vec_id"] for r in idx.topk(assigned, q, k=5, nprobe=2).collect()]
    disk_df = idx.topk_from_disk(spark, path, q, k=5, nprobe=2)
    disk = [r["vec_id"] for r in disk_df.collect()]
    assert disk == mem

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        disk_df.explain("formatted")
    plan = buf.getvalue()
    # the scan must report partition pruning down to the 2 probed cells
    assert "list_id" in plan
    import re

    m = re.search(r"partitions read:\s*(\d+)", plan) or re.search(
        r"PartitionFilters: \[([^\]]*)\]", plan
    )
    assert m is not None
    if m.re.pattern.startswith("partitions"):
        assert int(m.group(1)) == 2
    else:
        assert "list_id" in m.group(1)  # pruning filter reached the scan


def test_sampled_fit_assigns_full_corpus_and_full_probe_exact(spark, clustered):
    """Training on a quarter of the vectors must still assign EVERY
    vector, and full probe stays exact regardless of where the centroids
    came from."""
    from pyspark.sql import functions as F

    df, vecs = clustered
    idx = IVFIndex(n_lists=4, max_iter=3)
    assigned = idx.fit(df, train_on=df.filter(F.col("vec_id") % 4 == 0)).cache()
    assert assigned.count() == df.count()
    q = [float(x) for x in vecs[0]]
    got = [(r["vec_id"], r["cos_sim"])
           for r in idx.topk(assigned, q, k=10, nprobe=4).collect()]
    want = [(r["vec_id"], r["cos_sim"])
            for r in topk_bruteforce(df, q, k=10).collect()]
    assert got == want

    # Sampled centroids still separate the blobs: partial probe of the
    # query's own cell must contain the query vector itself.
    top1 = idx.topk(assigned, q, k=1, nprobe=1).collect()
    assert top1 and top1[0]["vec_id"] == 0
    assigned.unpersist()


def test_default_fit_samples_above_train_cap(spark, clustered, monkeypatch):
    """With no explicit train_on, fit must train on a hash sample once the
    corpus exceeds _TRAIN_CAP — and still assign every vector, with full
    probe exact (the 100 TB default shape)."""
    df, vecs = clustered
    monkeypatch.setattr(ivf, "_TRAIN_CAP", 100)  # corpus is 300
    idx = IVFIndex(n_lists=4, max_iter=3)
    assigned = idx.fit(df).cache()
    assert assigned.count() == df.count()
    q = [float(x) for x in vecs[0]]
    got = [(r["vec_id"], r["cos_sim"])
           for r in idx.topk(assigned, q, k=10, nprobe=4).collect()]
    want = [(r["vec_id"], r["cos_sim"])
            for r in topk_bruteforce(df, q, k=10).collect()]
    assert got == want
    assigned.unpersist()


def test_default_fit_tiny_cap_falls_back_to_full_corpus(
    spark, clustered, monkeypatch
):
    """A cap smaller than n_lists can yield a sample with too few seed
    vectors (an unlucky hash draw does the same at any cap); fit must
    fall back to full-corpus training, not crash."""
    df, _ = clustered
    monkeypatch.setattr(ivf, "_TRAIN_CAP", 1)
    idx = IVFIndex(n_lists=4, max_iter=2)
    assigned = idx.fit(df)
    assert idx.centroids.shape == (4, DIM)
    assert assigned.count() == df.count()


def test_unfitted_index_raises_clearly():
    import pytest as _pytest

    from nlp_to_nosql_spark.operators.ivf import IVFIndex

    with _pytest.raises(RuntimeError, match="not fitted"):
        IVFIndex(n_lists=4).probe_lists([1.0, 0.0], nprobe=2)
