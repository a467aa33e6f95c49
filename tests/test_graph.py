"""Connected-components / dedup-cluster tests.

Every correctness case runs through BOTH execution paths: the driver-side
union-find fast path (edges under the threshold) and the distributed
min-label-propagation loop (forced by patching ``_LOCAL_EDGE_MAX`` below
any edge count) — the two must be indistinguishable."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nlp_to_nosql_spark.operators import graph
from nlp_to_nosql_spark.operators.graph import (
    connected_components,
    dedup_clusters,
)


@pytest.fixture(params=["local", "distributed"])
def cc_mode(request, monkeypatch):
    if request.param == "distributed":
        # -1, not 0: the empty-edge case must take the iterative path too
        monkeypatch.setattr(graph, "_LOCAL_EDGE_MAX", -1)
    return request.param


def _labels(df):
    return {r["id"]: r["label"] for r in df.collect()}


def test_chain_collapses_to_min(spark, cc_mode):
    # 0-1-2-3-4-5 chain: multi-hop propagation (exercises pointer jumping)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "a long, b long"
    )
    got = _labels(connected_components(edges, "a", "b"))
    assert got == {i: 0 for i in range(6)}


def test_two_components_and_direction_invariance(spark, cc_mode):
    # {1,2,3} via (3,2),(2,1) reversed order; {10,11}; edge direction mixed
    edges = spark.createDataFrame(
        [(3, 2), (1, 2), (11, 10)], "a long, b long"
    )
    got = _labels(connected_components(edges, "a", "b"))
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_isolated_nodes_are_singletons(spark, cc_mode):
    edges = spark.createDataFrame([(1, 2)], "a long, b long")
    nodes = spark.createDataFrame([(n,) for n in (1, 2, 7, 9)], "doc_id long")
    got = _labels(connected_components(edges, "a", "b", nodes=nodes, id_col="doc_id"))
    assert got == {1: 1, 2: 1, 7: 7, 9: 9}


def test_self_loop_and_duplicate_edges(spark, cc_mode):
    edges = spark.createDataFrame(
        [(4, 4), (4, 5), (5, 4), (4, 5)], "a long, b long"
    )
    got = _labels(connected_components(edges, "a", "b"))
    assert got == {4: 4, 5: 4}


def test_empty_edges_all_singletons(spark, cc_mode):
    edges = spark.createDataFrame([], "a long, b long")
    nodes = spark.createDataFrame([(n,) for n in (3, 8)], "doc_id long")
    got = _labels(connected_components(edges, "a", "b", nodes=nodes, id_col="doc_id"))
    assert got == {3: 3, 8: 8}


def test_dedup_clusters_representative_policy(spark, cc_mode):
    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    pairs = spark.createDataFrame(
        [(5, 3), (3, 1)], "id_a long, id_b long"
    )
    out = dedup_clusters(pairs, docs)
    got = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 1, 4: 4, 5: 1}
    # keep-one filter retains exactly one doc per cluster
    keep = out.filter(F.col("cluster_id") == F.col("doc_id"))
    assert keep.count() == 4


def test_threshold_boundary_switches_paths(spark, monkeypatch):
    """At threshold = exact edge count the local path still applies; one
    below it, the distributed loop runs.  Results identical."""
    edges = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "a long, b long")
    want = {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}
    monkeypatch.setattr(graph, "_LOCAL_EDGE_MAX", 3)
    assert _labels(connected_components(edges, "a", "b")) == want
    monkeypatch.setattr(graph, "_LOCAL_EDGE_MAX", 2)
    assert _labels(connected_components(edges, "a", "b")) == want


def test_no_convergence_raises(spark, monkeypatch):
    edges = spark.createDataFrame([(i, i + 1) for i in range(40)], "a long, b long")
    monkeypatch.setattr(graph, "_LOCAL_EDGE_MAX", 0)  # force iterative path
    with pytest.raises(RuntimeError):
        connected_components(edges, "a", "b", max_iter=1)


def test_edges_conduct_only_through_known_nodes(spark, cc_mode):
    """Iterative-path semantics: an endpoint absent from `nodes` has no
    label row and does not conduct — both paths must agree."""
    edges = spark.createDataFrame([(1, 100), (100, 2)], "a long, b long")
    nodes = spark.createDataFrame([(1,), (2,)], "doc_id long")
    got = _labels(connected_components(edges, "a", "b", nodes=nodes, id_col="doc_id"))
    assert got == {1: 1, 2: 2}  # NOT merged through the unknown node 100


def test_null_edge_endpoints_ignored(spark, cc_mode):
    edges = spark.createDataFrame(
        [(1, 2), (None, 3), (3, None)], "a long, b long"
    )
    nodes = spark.createDataFrame([(n,) for n in (1, 2, 3)], "doc_id long")
    got = _labels(connected_components(edges, "a", "b", nodes=nodes, id_col="doc_id"))
    assert got == {1: 1, 2: 1, 3: 3}


def test_pair_degree_histogram(spark):
    from nlp_to_nosql_spark.operators.graph import pair_degree_histogram

    pairs = spark.createDataFrame(
        # star: 1-2, 1-3, 1-4 (deg(1)=3); isolated pair 5-6
        [(1, 2), (1, 3), (1, 4), (5, 6)],
        "id_a long, id_b long",
    )
    got = {r["degree"]: r["n_nodes"] for r in pair_degree_histogram(pairs).collect()}
    assert got == {3: 1, 1: 3 + 2}  # hub once; leaves 2,3,4 + both of 5,6


def test_pagerank_micro_hub_ranks_highest(spark):
    from nlp_to_nosql_spark.operators.graph import pagerank_micro

    # star graph: node 1 is the hub
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "id_a long, id_b long"
    )
    got = {r["node"]: r["rank_micro"] for r in pagerank_micro(pairs).collect()}
    assert got[1] > got[2] == got[3] == got[4]
    assert set(got) == {1, 2, 3, 4}


def test_pagerank_micro_matches_duckdb(spark):
    import duckdb

    from nlp_to_nosql_spark.operators.graph import pagerank_micro, pagerank_sql

    edges = [(1, 2), (1, 3), (2, 3), (4, 5), (1, 6), (6, 7), (7, 1)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["node"]: r["rank_micro"] for r in pagerank_micro(pairs).collect()}
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE p (id_a BIGINT, id_b BIGINT)"
    )
    con.executemany("INSERT INTO p VALUES (?, ?)", edges)
    want = dict(
        con.execute(
            "WITH pairs AS (SELECT id_a, id_b FROM p), " + pagerank_sql()
        ).fetchall()
    )
    assert got == want


def _jobs_used(spark, group: str, fn) -> int:
    """Run fn under a job group and return how many Spark jobs it launched."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_cc_large_graph_skips_probe_jobs(spark, monkeypatch):
    """A graph over the fast-path threshold must go straight to the
    iterative path with ZERO probe/collect jobs: its job count equals
    the threshold=0 run (every edge over it, so the fast path never
    engages) exactly.  Pins the round-5 review fix — the old always-on
    LIMIT-collect probe cost every large-graph caller one wasted job."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )

    def run():
        connected_components(edges, "id_a", "id_b").collect()

    monkeypatch.setattr(graph, "_LOCAL_EDGE_MAX", 10)  # 40 edges > 10
    over = _jobs_used(spark, "cc_over_threshold", run)
    monkeypatch.setattr(graph, "_LOCAL_EDGE_MAX", 0)
    disabled = _jobs_used(spark, "cc_disabled", run)
    assert over == disabled
    # And the small-graph fast path still engages (one materializing
    # count + one bounded collect — far fewer jobs than iterating).
    monkeypatch.setattr(graph, "_LOCAL_EDGE_MAX", 100_000)
    fast = _jobs_used(spark, "cc_fast_path", run)
    assert fast < disabled
