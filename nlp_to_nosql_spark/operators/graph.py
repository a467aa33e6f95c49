"""Connected components over a pair-edge table — duplicate-cluster labeling.

Near-dup detectors (``ngram_jaccard_pairs``, ``minhash_lsh_pairs``,
``simhash_pairs``) emit a *pair* relation that is not transitive: a~b and
b~c does not imply a~c, yet all three belong to one duplicate cluster.
Training-data dedup therefore needs the connected components of the pair
graph, with one deterministic representative per cluster (the minimum id —
the usual "keep the first copy" policy).

Algorithm: distributed **min-label propagation with pointer jumping**.
Each round does

1. ``label(v) ← min(label(v), min over neighbors u of label(u))``
   (one hash join edges⋈labels + one groupBy min — both shuffle on node id
   and can reuse the same partitioning under AQE), then
2. ``label(v) ← label(label(v))`` (path halving — one self-join),

so convergence is O(log diameter) rounds rather than the O(diameter) of
plain propagation; each round's result is ``localCheckpoint``-ed to keep
the plan from growing with the iteration count.  This is the
hash-join-relational form of the alternating-star algorithm from
Kiveris et al., "Connected Components in MapReduce and Beyond" (SoCC'14).

At 100 TB the edge table is the near-dup pair output (orders of magnitude
smaller than the corpus); labels are one row per document.  Every step is
a key-partitioned join/agg — no driver-side state beyond the per-round
convergence counter.

**Small-edge fast path**: when the pair relation fits under
``_LOCAL_EDGE_MAX`` (100k pairs), the components are solved with
driver-side union-find and broadcast back — the exact analogue of a
broadcast hash join's small-side collect, with the same boundedness
contract.  Only nodes that appear in edges are collected
(never the node table: isolated nodes coalesce to their own id after a
broadcast left join), so the driver's working set is bounded by the
threshold regardless of corpus size.  Above the threshold the iterative
relational path runs unchanged — that is the 100 TB path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nlp_to_nosql_spark.plans.localrel import local_df

#: Edge-count ceiling for the driver-side union-find fast path.  The
#: decision is read off the checkpoint-materializing count — large graphs
#: never pay a probe or collect job at all — and the collect only happens
#: when the graph FITS (≤ threshold rows), so it is sized for a few MB
#: of driver heap (~100k Row pairs), not for the largest graph
#: union-find could handle.
_LOCAL_EDGE_MAX = 100_000


def _union_find_min_labels(edge_rows: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Union-find with path compression; returns (node, min-id-of-component)
    for every node that appears in an edge."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edge_rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)  # min-id root ⇒ min labels

    return [(node, find(node)) for node in parent]


def connected_components(
    edges: DataFrame,
    src: str,
    dst: str,
    nodes: DataFrame | None = None,
    id_col: str | None = None,
    max_iter: int = 25,
) -> DataFrame:
    """Label every node with the minimum node id of its component.

    ``edges`` is an undirected pair relation (each pair listed once in
    either direction).  ``nodes`` (optional, single-column or ``id_col``)
    adds isolated nodes, which come out as their own singleton clusters.
    Returns ``(id, label)``.  Raises if ``max_iter`` rounds don't converge
    (pathological diameter — at log-halving that means > 2^25 hops).
    """
    # Null endpoints can't join to a label row in the iterative path, so
    # they never conduct; drop them up front so both paths agree (and the
    # driver-side union-find never sees a None).
    e = edges.select(
        F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst")
    ).filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
    # Materialize the (possibly expensive) pair plan exactly ONCE, via
    # the count below (lazy checkpoint + count = one job that both
    # persists the edges and learns the exact edge count); the iterative
    # path re-derives the symmetric edge set from the checkpoint cheaply
    # every round.
    e = e.localCheckpoint(eager=False)

    if nodes is not None:
        node_ids = nodes.select(
            F.col(id_col or nodes.columns[0]).cast("long").alias("id")
        ).distinct()
    else:
        node_ids = None  # node set == edge endpoints

    # The count doubles as the checkpoint's materializing action AND the
    # fast-path decision: a graph over the threshold proceeds straight
    # to the iterative path with zero probe/collect jobs (round-5 review
    # flagged the former always-on LIMIT-collect probe as a wasted job
    # for exactly those callers), and the collect below is bounded by
    # construction — it only runs when n_edges ≤ threshold.
    n_edges = e.count()
    if n_edges <= _LOCAL_EDGE_MAX:
        spark = edges.sparkSession
        sample = e.collect()
        pairs = [(r["src"], r["dst"]) for r in sample]
        if node_ids is None:
            # The endpoints ARE the node set: the mapping is the answer.
            mapping = _union_find_min_labels(pairs)
            if not mapping:
                return local_df(spark, [], "id long, label long")
            return local_df(spark, mapping, "id long, label long")
        # Iterative-path semantics: an edge conducts only through
        # endpoints that have a label row (i.e. appear in `nodes`).
        # The node table may be corpus-sized, so membership is checked
        # distributed — one semi-join of node_ids against the bounded
        # endpoint set (≤ 2·threshold ids), collect bounded likewise.
        endpoints = {x for p in pairs for x in p}
        endpoints_df = local_df(spark, [(x,) for x in endpoints], "id long")
        present = {
            r["id"]
            for r in node_ids.join(
                F.broadcast(endpoints_df), "id", "semi"
            ).collect()
        }
        mapping = _union_find_min_labels(
            [(a, b) for a, b in pairs if a in present and b in present]
        )
        if not mapping:
            return node_ids.select("id", F.col("id").alias("label"))
        mapping_df = local_df(spark, mapping, "id long, label long")
        return node_ids.join(F.broadcast(mapping_df), "id", "left").select(
            "id", F.coalesce("label", "id").alias("label")
        )

    sym = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    if node_ids is None:
        node_ids = sym.select(F.col("src").alias("id")).distinct()
    labels = node_ids.select("id", F.col("id").alias("label")).localCheckpoint()

    # Convergence check: min-propagation only ever DECREASES labels, so
    # the global label sum is strictly monotone until fixpoint — an
    # aggregate-only probe (no join against the previous round's labels).
    # decimal(38,0) so the sum can't overflow at any node-id magnitude.
    def _label_sum(lbl: DataFrame) -> object:
        return lbl.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]

    prev_sum = _label_sum(labels)

    for _ in range(max_iter):
        neigh_min = (
            sym.join(labels, sym["src"] == labels["id"])
            .groupBy(sym["dst"].alias("nid"))
            .agg(F.min("label").alias("nl"))
        )
        prop = labels.join(neigh_min, labels["id"] == neigh_min["nid"], "left").select(
            labels["id"],
            F.least(labels["label"], F.coalesce(F.col("nl"), labels["label"])).alias(
                "label"
            ),
        )
        # Path halving: follow the label one hop (labels are node ids, so
        # the lookup is a self-join on the same relation).
        a, b = prop.alias("a"), prop.alias("b")
        jumped = (
            a.join(b, F.col("a.label") == F.col("b.id"), "left")
            .select(
                F.col("a.id").alias("id"),
                F.coalesce(F.col("b.label"), F.col("a.label")).alias("label"),
            )
            # eager=False: the convergence probe right below is the
            # materializing job, so checkpointing costs no extra job.
            .localCheckpoint(eager=False)
        )
        labels = jumped
        cur_sum = _label_sum(labels)
        if cur_sum == prev_sum:
            return labels
        prev_sum = cur_sum
    raise RuntimeError(f"connected_components: no convergence in {max_iter} rounds")


def dedup_clusters(
    pairs: DataFrame,
    documents: DataFrame,
    id_col: str = "doc_id",
    pair_a: str = "id_a",
    pair_b: str = "id_b",
) -> DataFrame:
    """Cluster label for every document: min doc id of its near-dup
    component (itself when it has no near-dups).  The "keep one per
    cluster" filter is then just ``cluster_id == doc_id``."""
    labels = connected_components(
        pairs, pair_a, pair_b, nodes=documents.select(id_col), id_col=id_col
    )
    return labels.select(
        F.col("id").alias(id_col), F.col("label").alias("cluster_id")
    )


def cluster_representatives(
    labels: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    score_col: str = "score",
    min_members: int = 1,
) -> DataFrame:
    """Quality-aware dedup KEEP rule: per cluster, the member with the
    highest ``score_col`` (ties → min id) — what a production corpus
    build keeps instead of :func:`dedup_clusters`' min-id convention
    (the min-id doc may be the worst copy; the scored representative is
    the one worth training on).

    ``labels`` is :func:`dedup_clusters` output (or any (id, cluster)
    relation); ``scores`` holds one non-null score per id (inner join —
    an unscored id cannot win and is not counted).  Returns
    ``(cluster_id, rep_id, rep_score, n_members)``, clusters below
    ``min_members`` dropped (pass 2 to keep only real dup clusters).

    Plan: one co-keyed join on the id, then ONE partial-aggregated
    groupBy on the cluster — the arg-max is a single ``min`` over a
    ``(-score, id)`` struct (lexicographic struct ordering: smallest
    negated score = highest score, ties → min id), not a window sort, so
    map-side combine applies and nothing but one struct per
    (partition, cluster) shuffles.  Negating the NUMERIC score (its
    contract) rather than the id keeps the tie-break correct for ANY
    orderable id type — the earlier ``-id`` form silently cast string
    ids to NULL (round-6 advice).
    """
    j = labels.select(F.col(id_col), F.col(cluster_col)).join(
        scores.select(F.col(id_col), F.col(score_col)), id_col
    )
    best = F.min(
        F.struct(
            (-F.col(score_col)).alias("negs"),
            F.col(id_col).alias("i"),
        )
    )
    return (
        j.groupBy(cluster_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            best.alias("_b"),
        )
        .filter(F.col("n_members") >= int(min_members))
        .select(
            cluster_col,
            F.col("_b.i").alias("rep_id"),
            (-F.col("_b.negs")).alias("rep_score"),
            "n_members",
        )
    )


def pair_degree_histogram(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """Degree distribution of a pair graph: ``(degree, n_nodes)``.

    The shape diagnostic for a near-dup pair relation before running
    :func:`connected_components` on it: a long chain-like tail (degree
    1-2) means clusters are paths and CC needs its pointer-jumping
    rounds; heavy hubs (one template matching thousands of documents)
    mean the pair-generation stage should have cut a stop-shingle (and
    will dominate CC's join fan-out).  Publishing the histogram is how a
    100 TB dedup run is budgeted BEFORE the expensive clustering pass.

    Plan: one union of the two endpoint projections (no shuffle), a
    groupBy on node id (one shuffle, map-side partial), and a
    vocabulary-sized groupBy on the degree — both partial-aggregated.
    Each pair is one edge incident to both endpoints; multi-edges (the
    same pair emitted twice) count twice, mirroring the SQL twin.  The
    pair table is persisted first so the two endpoint projections are
    GUARANTEED to compute the (often expensive) pair-generation lineage
    once — Spark's ReuseExchange usually catches the identical subplans,
    but that reuse is plan-shape-dependent; the persist makes it a
    contract.
    """
    from nlp_to_nosql_spark.plans.caching import persisted

    pairs = persisted(pairs.select(id_a, id_b), "edges")
    ends = pairs.select(F.col(id_a).alias("node")).unionAll(
        pairs.select(F.col(id_b).alias("node"))
    )
    deg = ends.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )
    return deg.groupBy("degree").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )


def pagerank_micro(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    iterations: int = 3,
    damping_pct: int = 85,
) -> DataFrame:
    """PageRank over an undirected pair graph in EXACT integer-micro
    arithmetic — centrality scoring of the near-dup graph (which
    template is the hub every variant points at?), and the repo's
    demonstration that *iterative* algorithms beyond connected
    components can stay engine-exact.

    Determinism: ranks are BIGINT micros (start 1e6 per node); each
    step sends ``r div deg`` to every neighbor (integer floor division
    — the dropped remainder is deterministic) and re-ranks as
    ``0.15·1e6 + (damping_pct · Σincoming) div 100``.  Every op is
    order-free BIGINT arithmetic, so the DuckDB twin (the same
    iterations unrolled as CTEs) matches bit-for-bit — unlike float
    PageRank, whose per-partition accumulation order drifts.
    ``85·Σincoming`` fits BIGINT while Σincoming < 1.1e17 micros ≈
    a 1e11-node graph — beyond any dedup graph this engine will see.

    Plan per iteration: one join edges⋈ranks on the source (both sides
    hash-partitioned on the node id — AQE reuses the partitioning) and
    one partial-aggregated groupBy on the destination; rank state is
    one row per node.  A fixed small iteration count keeps the lazy
    plan shallow (the CC operator shows the ``localCheckpoint``
    discipline for deeper loops).
    """
    # Persist the (possibly expensive) upstream pair pipeline ONCE —
    # and BEFORE the symmetric-edge union: the union references
    # ``pairs`` twice, and the checkpoint's RDD materialization path
    # applies no exchange reuse, so checkpointing the union (the r14
    # form) computed the whole pair pipeline twice in the
    # materializing job (r15 in-session A/B min-of-5: pr1 4.20 →
    # 3.64 s with the checkpoint hoisted to ``pairs``).  A LAZY
    # localCheckpoint (the connected_components discipline) rather
    # than a bare persist: it also TRUNCATES the logical plan, so the
    # unrolled iteration chain analyzes against a LogicalRDD leaf
    # instead of embedding the whole pair plan at every edges/deg
    # reference (pr1's analyzed plan was 2729 lines / 362 Exchanges in
    # the persisted form; r14 A/B at sf0.1 min-of-5: 5.46 → 4.79 s).
    # The union over the checkpointed leaf is two cache reads — cheap
    # enough to re-derive per consumer, so it needs no checkpoint of
    # its own.  No extra job — the first iteration's action
    # materializes everything.  The checkpoint is LOCAL — non-reliable
    # storage — so on a multi-executor deployment an executor loss
    # mid-iteration recomputes nothing and fails the job; acceptable
    # for local[...] and retry-at-job-level deployments.
    p = pairs.localCheckpoint(eager=False)
    edges = p.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).unionAll(
        p.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    )
    deg = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        .select(F.col("src").alias("node"), "deg")
        .localCheckpoint(eager=False)
    )
    ranks = deg.select("node", "deg", F.lit(1000000).cast("long").alias("r"))
    base = F.lit(150000).cast("long")
    for _ in range(int(iterations)):
        msgs = (
            edges.join(ranks, edges["src"] == ranks["node"])
            .select(F.col("dst"), F.expr("r div deg").alias("c"))
        )
        incoming = msgs.groupBy("dst").agg(
            F.sum("c").cast("long").alias("s")
        )
        ranks = (
            deg.join(incoming, deg["node"] == incoming["dst"], "left")
            .select(
                "node",
                "deg",
                (
                    base
                    + F.expr(
                        f"({int(damping_pct)} * coalesce(s, 0L)) div 100"
                    )
                )
                .cast("long")
                .alias("r"),
            )
        )
    return ranks.select("node", F.col("r").alias("rank_micro"))


def pagerank_sql(
    iterations: int = 3, damping_pct: int = 85
) -> str:
    """DuckDB twin of :func:`pagerank_micro`, as a CTE suffix: expects a
    ``pairs(id_a, id_b)`` CTE in scope and returns the chain from the
    edge expansion through ``iterations`` unrolled rank updates to the
    final ``(node, rank_micro)`` select.  Integer ``//`` mirrors
    Spark's ``div`` exactly."""
    parts = [
        "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs "
        "UNION ALL SELECT id_b, id_a FROM pairs)",
        "deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg "
        "FROM edges GROUP BY 1)",
        "r0 AS (SELECT node, deg, CAST(1000000 AS BIGINT) AS r FROM deg)",
    ]
    prev = "r0"
    for i in range(1, int(iterations) + 1):
        parts.append(
            f"m{i} AS (SELECT e.dst, CAST(SUM({prev}.r // {prev}.deg) "
            f"AS BIGINT) AS s FROM edges e "
            f"JOIN {prev} ON e.src = {prev}.node GROUP BY 1)"
        )
        parts.append(
            f"r{i} AS (SELECT d.node, d.deg, CAST(150000 + "
            f"({int(damping_pct)} * COALESCE(m{i}.s, 0)) // 100 "
            f"AS BIGINT) AS r "
            f"FROM deg d LEFT JOIN m{i} ON m{i}.dst = d.node)"
        )
        prev = f"r{i}"
    return (
        ", ".join(parts)
        + f" SELECT node, r AS rank_micro FROM {prev}"
    )
