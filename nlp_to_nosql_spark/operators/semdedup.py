"""SemDeDup: semantic deduplication via clustered embedding near-dup pruning.

Re-expresses the SemDeDup pipeline (Abbas et al., "SemDeDup: Data-efficient
learning at web-scale through semantic deduplication", arXiv:2303.09540)
Spark-first.  The idea: exact all-pairs cosine over a corpus is O(n²);
cluster the embeddings first (k cells), then search for semantic
near-duplicates only WITHIN each cell — the quadratic term drops to
O(k · (n/k)²) = O(n²/k), and each cell's comparison is one dense numpy
matmul inside ``applyInPandas``.

Plan shape (the 100 TB story):

* centroid load — bounded driver collect of ``n_clusters`` rows (same
  contract as :class:`~nlp_to_nosql_spark.operators.ivf.IVFIndex`:
  centroids are k×dim driver-resident floats; the corpus never is);
* assignment — ONE zero-shuffle scan: an Arrow-batched pandas UDF doing
  a single int64 matmul per batch (argmax over exact integer-micro dot
  products, so the cell id is engine-reproducible — no float argmax
  near-tie can flip between Spark and the DuckDB oracle);
* within-cell pairs — ONE shuffle keyed on ``(cluster_id, sub-block
  pair)``; each group computes a normalized float64 matmul and keeps
  pairs with ``round(cos, 6) ≥ threshold`` (identical rounding contract
  to :func:`~nlp_to_nosql_spark.operators.similarity.embedding_neardup_exact`).
  At corpus scale ``n_clusters`` grows with n (10⁴–10⁵ cells), keeping
  every cell bounded — and a pathologically skewed cell (one cluster
  absorbing a large corpus fraction) is SUB-BLOCKED with the same
  block-pair replication ``embedding_neardup_exact`` uses: rows of a
  cell larger than ``cell_block_size`` hash into ⌈cell/cbs⌉ sub-blocks
  and replicate to every unordered sub-block pair, so no single Python
  worker ever materializes more than an O(cell_block_size²) similarity
  matrix regardless of skew (enforced by the skewed-fixture test in
  ``tests/test_semdedup.py``);
* keep/drop — lower-id-wins within a near-dup pair (the same
  deterministic stand-in for SemDeDup's "keep one per group" that the
  exact-dedup family uses), emitted as a ``kept`` flag via one
  broadcast-sized left join on the distinct drop list.

The CONTRACT configuration freezes the centroids to the ``n_clusters``
lowest-id vectors so the whole pipeline — assignment argmax included —
replays relationally in DuckDB (:func:`semantic_dedup_sql`).  Production
callers pass ``centroids=`` from a sampled
:meth:`~nlp_to_nosql_spark.operators.ivf.IVFIndex.fit` instead; the plan
is identical, only the k×dim matrix changes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nlp_to_nosql_spark.operators.dedup import md5_hash28

#: floor-scale factor for integer-micro dot products (the repo-wide
#: determinism discipline: float32 → float64 is exact, ×1e6 and floor are
#: single IEEE ops, so numpy and DuckDB produce bit-equal BIGINTs).
_MICRO = 1_000_000


def _micro_matrix(vecs: pd.Series, dim: int) -> np.ndarray:
    """float vectors → exact int64 micro matrix; ragged input fails loudly.

    Mirrors the IntSRPLSH ragged guard: a vector whose length differs from
    the centroid dim would silently zip-truncate in a HOF form — here it
    raises instead of diverging.
    """
    rows = vecs.tolist()
    if not rows:
        return np.empty((0, dim), dtype=np.int64)
    try:
        x = np.asarray(rows, dtype=np.float64)
    except ValueError as exc:  # ragged: numpy refuses the rectangular cast
        raise ValueError(
            f"semantic_dedup: ragged embedding column (expected dim={dim})"
        ) from exc
    if x.ndim != 2 or x.shape[1] != dim:
        raise ValueError(
            f"semantic_dedup: ragged or mis-sized embedding (expected dim={dim})"
        )
    return np.floor(x * _MICRO).astype(np.int64)


def _micro_vec(vec_col: str) -> Column:
    """JVM-side exact integer-micro vector: ``floor(x * 1e6)`` per
    component on the double-cast embedding — the same single-IEEE-op
    recipe as :func:`_micro_matrix`, and bit-equal to the DuckDB twin's
    ``CAST(FLOOR(x * 1000000) AS BIGINT)``."""
    return F.transform(
        F.col(vec_col).cast("array<double>"),
        lambda x: F.floor(x * F.lit(float(_MICRO))).cast("long"),
    )


def micro_kmeans_fit(
    df: DataFrame,
    n_clusters: "int | str" = 8,
    iters: int = 2,
    seed: int = 7,
    sample_mod: int = 4,
    sample_keep: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_cell_rows: int = 512,
) -> np.ndarray:
    """Oracle-replayable sampled Lloyd's k-means in the integer-micro
    domain; returns the fitted ``k×dim`` int64 micro centroid matrix.

    The production SemDeDup centroid source (sampled k-means, the shape
    :class:`~nlp_to_nosql_spark.operators.ivf.IVFIndex` uses) made
    RELATIONALLY EXACT so the whole fitted pipeline carries a value-level
    DuckDB oracle (:func:`semantic_dedup_fitted_sql`) — the float-mean
    Lloyd's of ``IVFIndex.fit`` cannot (a float ``avg`` is partition-
    order-dependent), so every step here is integer:

    * **training sample** — rows whose seeded 28-bit md5 bucket
      (``dedup.md5_hash28``, the mix1/cap1 convention) satisfies
      ``h % sample_mod < sample_keep`` — a deterministic,
      partition-layout-independent ~``sample_keep/sample_mod`` sample,
      so the fit cost is sample-proportional at any corpus size;
    * **init** — the ``n_clusters`` training vectors with the smallest
      ``(seeded md5 hash, id)`` — IVF's hash-spread init (uncorrelated
      with insertion order), as a TakeOrdered top-k;
    * **assignment** — exact int64 squared-L2 argmin over micro vectors
      (ties → lowest centroid index), one Arrow-batched matmul per
      batch;
    * **update** — per-(cell, dim) BIGINT sums and counts (one
      map-side-combined groupBy emitting ≤ ``k×dim`` rows per
      iteration), new component = ``floor(sum / count)`` — Python
      integer floor division here, ``FLOOR(CAST(sum AS DOUBLE)/n)`` in
      the twin; equal whenever ``|sum| < 2^53`` (micro components are
      ~2^23, so cells up to ~2^30 training rows stay exact — far above
      any training-sample cap).  Empty cells keep their previous
      centroid.

    Driver state is ``k×dim`` ints + one ≤ ``k×dim``-row collect per
    iteration — the IVF centroid contract; the corpus never leaves
    executors.

    ``n_clusters="auto"`` codifies the module docstring's "n_clusters
    grows with n" contract in code (the ann14 bounded-cell pattern):
    one exact count job resolves ``max(8, ceil(count /
    target_cell_rows))`` via :func:`~nlp_to_nosql_spark.operators.
    similarity.resolve_n_cells`, and the unrolled twins derive the
    identical value with a scalar-subquery ``LIMIT``
    (:func:`_fitted_fa_parts` with ``n_clusters="auto"``) — so the
    auto mode stays value-oracled at every corpus size.  Every caller
    (semantic_dedup's fitted path, the incremental split, ann14) gains
    the mode through this single resolution point.
    """
    if n_clusters == "auto":
        from nlp_to_nosql_spark.operators.similarity import resolve_n_cells

        n_clusters = resolve_n_cells(
            "auto", df.select(id_col).count(), target_cell_rows
        )
    else:
        n_clusters = int(n_clusters)
    if iters < 1 or n_clusters < 1:
        raise ValueError("micro_kmeans_fit: iters and n_clusters must be >= 1")
    from nlp_to_nosql_spark.plans.caching import persisted

    sid = F.col(id_col).cast("string")
    train_pred = (
        md5_hash28(F.concat(F.lit(f"kmfit{seed}:"), sid)) % sample_mod
        < sample_keep
    )
    narrow = persisted(
        df.filter(train_pred).select(
            F.col(id_col), _micro_vec(vec_col).alias("_mv")
        ),
        "vectors",
    )
    init_rows = (
        narrow.orderBy(
            md5_hash28(F.concat(F.lit(f"kminit{seed}:"), sid)),
            F.col(id_col),
        )
        .limit(n_clusters)
        .collect()
    )
    if len(init_rows) < n_clusters:
        raise ValueError(
            f"micro_kmeans_fit: training sample has {len(init_rows)} rows "
            f"but n_clusters={n_clusters}; widen sample_keep/sample_mod"
        )
    cents = np.asarray([r["_mv"] for r in init_rows], dtype=np.int64)
    dim = cents.shape[1]

    from pyspark.sql.functions import pandas_udf

    for _ in range(int(iters)):
        cur = cents.copy()  # snapshot so the UDF closure is per-iteration
        # |micro| ≤ ~2^23 ⇒ per-dot magnitude ≤ dim·2^46 ≪ int64 range
        cn2 = (cur * cur).sum(axis=1)

        def _assign_fn(vecs):
            # closure over THIS iteration's cur/cn2 snapshot; the job
            # runs (collect below) before the loop rebinds them
            m = _micro_matrix_int(vecs, dim)
            # exact int64: ||m||² − 2·m·c + ||c||²; argmin ties → first
            # (lowest) index, mirroring the twin's ORDER BY d, c
            rn2 = (m * m).sum(axis=1, keepdims=True)
            d = rn2 - 2 * (m @ cur.T) + cn2[None, :]
            return pd.Series(d.argmin(axis=1).astype(np.int64))

        # real type objects, not the __future__ strings — pyspark's
        # eval-type inference rejects stringified hints (verify-skill
        # gotcha)
        _assign_fn.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
        assign = pandas_udf(_assign_fn, "long")

        means = (
            narrow.withColumn("_c", assign(F.col("_mv")))
            .select("_c", F.posexplode("_mv"))
            .groupBy("_c", "pos")
            .agg(
                F.sum("col").cast("long").alias("s"),
                F.count(F.lit(1)).cast("long").alias("n"),
            )
            .collect()
        )
        nxt = cents.copy()
        by_cell: dict[int, np.ndarray] = {}
        for row in means:
            by_cell.setdefault(int(row["_c"]), np.zeros(dim, dtype=np.int64))[
                row["pos"]
            ] = int(row["s"]) // int(row["n"])
        for c, vec in by_cell.items():
            nxt[c] = vec
        if np.array_equal(nxt, cents):
            break
        cents = nxt
    narrow.unpersist()
    return cents


def _micro_matrix_int(vecs: pd.Series, dim: int) -> np.ndarray:
    """int64 micro matrix from an ALREADY-micro long-array column (the
    :func:`_micro_vec` projection) — rectangular-cast guard only."""
    rows = vecs.tolist()
    if not rows:
        return np.empty((0, dim), dtype=np.int64)
    x = np.asarray(rows, dtype=np.int64)
    if x.ndim != 2 or x.shape[1] != dim:
        raise ValueError(
            f"micro_kmeans: ragged or mis-sized micro vector (dim={dim})"
        )
    return x


def _sub_blocked(
    assigned: DataFrame,
    id_col: str,
    vec_col: str,
    cell_block_size: int,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Replicate each row to every unordered sub-block pair of its cell.

    A cell with ``n`` rows hashes into ``⌈n / cell_block_size⌉``
    sub-blocks (id-hash, so no extra pass over the data is needed to
    split it); each row then explodes to every unordered pair containing
    its sub-block — ``embedding_neardup_exact``'s block-pair scheme
    (``similarity.py``) applied per cell.  Cells at or under
    ``cell_block_size`` get exactly one ``(0, 0)`` group, i.e. zero
    replication — the skew machinery costs nothing when there is no
    skew.  The per-cell sizes aggregate is one partial-agg shuffle
    emitting ``n_clusters`` rows, broadcast back onto the corpus.
    """
    sizes = assigned.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("_cell_n")
    )
    return (
        assigned.join(F.broadcast(sizes), "cluster_id")
        .withColumn(
            "_nsub",
            F.greatest(
                F.lit(1),
                F.ceil(F.col("_cell_n") / F.lit(int(cell_block_size))),
            ).cast("int"),
        )
        .withColumn(
            "_sb",
            F.pmod(F.xxhash64(F.col(id_col)), F.col("_nsub")).cast("int"),
        )
        .select(
            "cluster_id",
            id_col,
            vec_col,
            *extra_cols,
            "_sb",
            F.explode(
                F.sequence(F.lit(0), F.col("_nsub") - F.lit(1))
            ).alias("_other"),
        )
        .select(
            "cluster_id",
            id_col,
            vec_col,
            *extra_cols,
            "_sb",
            F.least("_sb", "_other").alias("_pa"),
            F.greatest("_sb", "_other").alias("_pb"),
        )
    )


def semantic_dedup(
    df: DataFrame,
    n_clusters: "int | str" = 8,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
    cell_block_size: int = 4096,
    fit: str | None = None,
    fit_iters: int = 2,
    fit_seed: int = 7,
    centroids_micro: np.ndarray | None = None,
    target_cell_rows: int = 512,
) -> DataFrame:
    """SemDeDup keep/drop decisions: ``(id, cluster_id, kept)`` per vector.

    ``kept`` is False iff some SAME-CLUSTER vector with a smaller id has
    ``round(cosine, 6) ≥ threshold`` against this one (lower-id-wins, the
    chain semantics of the exact-dedup family).  ``centroids`` defaults to
    the ``n_clusters`` LOWEST-ID vectors (truly the lowest ids — an
    ``ORDER BY id LIMIT n`` top-k, robust to id offsets and gaps), the
    oracle-replayable contract config; ``cluster_id`` is then the actual
    id of the winning centroid row, matching :func:`semantic_dedup_sql`
    for any id domain.  Pass a fitted k×dim float matrix for production
    use — ``cluster_id`` is the 0-based centroid index in that case.

    ``fit="micro_kmeans"`` is the ORACLE-CHECKED fitted tier: the same
    sampled-Lloyd's shape as ``sampled_kmeans`` but computed entirely in
    the exact integer-micro domain (:func:`micro_kmeans_fit` —
    ``fit_iters`` capped iterations over a seeded md5 hash sample,
    seeded hash-spread init), so the fitted pipeline end-to-end replays
    relationally in DuckDB (:func:`semantic_dedup_fitted_sql`).
    Assignment under this tier is the fit's own metric — exact int64
    squared-L2 argmin (ties → lowest centroid index) — rather than the
    contract config's dot argmax; ``cluster_id`` is the 0-based centroid
    index.

    ``fit="sampled_kmeans"`` is the PRODUCTION centroid source Abbas et
    al. cluster with: a deterministic sampled Lloyd's fit
    (:class:`~nlp_to_nosql_spark.operators.ivf.IVFIndex` — hash-spread
    seeded init, training capped at ``ivf._TRAIN_CAP`` rows, so the fit
    cost is sample-proportional at any corpus size).
    Cell quality decides dedup recall: near-duplicates only compare if
    they land in the SAME cell, and fitted cells track the data's
    actual density instead of whatever region the lowest ids came from
    — measured within-cell pair recall vs the exact ``dedup5`` pair set
    is in PERFORMANCE.md ("SemDeDup centroid quality").  The plan is
    identical either way; only the k×dim matrix changes.

    ``centroids_micro`` takes an ALREADY-fitted integer-micro k×dim
    matrix (the :func:`micro_kmeans_fit` output) and assigns under the
    fit's own exact int64 squared-L2 metric — the hand-off used when
    one fit serves several passes (e.g. a prior run plus
    :func:`semantic_dedup_incremental` batches) without re-fitting;
    ``cluster_id`` is the 0-based centroid index, identical to
    ``fit="micro_kmeans"`` given the same matrix.

    ``cell_block_size`` bounds per-task memory under cluster skew (see
    :func:`_sub_blocked`); it never changes the result, only the
    partitioning of the within-cell comparisons.
    """
    if n_clusters == "auto" and fit != "micro_kmeans":
        raise ValueError(
            "semantic_dedup: n_clusters='auto' requires "
            "fit='micro_kmeans' (the oracle-replayable fitted tier — "
            "the contract config's lowest-id centroids and IVFIndex's "
            "n_lists take explicit ints)"
        )
    cents_micro: np.ndarray | None = None
    metric = "dot"
    if centroids_micro is not None:
        if centroids is not None or fit is not None:
            raise ValueError(
                "semantic_dedup: centroids_micro= is exclusive with "
                "centroids= and fit="
            )
        cents_micro = np.asarray(centroids_micro, dtype=np.int64)
        centroid_ids = np.arange(cents_micro.shape[0], dtype=np.int64)
        metric = "l2"
    if fit is not None:
        if centroids is not None:
            raise ValueError(
                "semantic_dedup: pass either centroids= or fit=, not both"
            )
        if fit == "sampled_kmeans":
            from nlp_to_nosql_spark.operators.ivf import IVFIndex

            index = IVFIndex(n_lists=n_clusters)
            index.fit(df, id_col=id_col, vec_col=vec_col)
            centroids = index.centroids
        elif fit == "micro_kmeans":
            # n_clusters="auto" resolves inside the fit (the ann14
            # bounded-cell contract); size downstream state from the
            # returned matrix, not the unresolved knob
            cents_micro = micro_kmeans_fit(
                df,
                n_clusters,
                iters=fit_iters,
                seed=fit_seed,
                id_col=id_col,
                vec_col=vec_col,
                target_cell_rows=target_cell_rows,
            )
            centroid_ids = np.arange(cents_micro.shape[0], dtype=np.int64)
            metric = "l2"  # the fit's own objective; oracle-replayable
        else:
            raise ValueError(
                f"semantic_dedup: unknown fit {fit!r} "
                "(expected 'sampled_kmeans' or 'micro_kmeans')"
            )
    narrow = df.select(id_col, vec_col)
    if cents_micro is None:
        if centroids is None:
            # top-k by id, not filter(id < n): TakeOrderedAndProject, no
            # full sort, and correct when ids are offset or gapped
            # (round-7 advice).
            rows = narrow.orderBy(id_col).limit(n_clusters).collect()
            if len(rows) < n_clusters:
                raise ValueError(
                    f"semantic_dedup: no centroid rows — found {len(rows)} "
                    f"of the n_clusters={n_clusters} lowest-id vectors "
                    "(empty or undersized input?)"
                )
            centroid_ids = np.asarray(
                [r[id_col] for r in rows], dtype=np.int64
            )
            centroids = np.asarray(
                [r[vec_col] for r in rows], dtype=np.float64
            )
        else:
            centroids = np.asarray(centroids, dtype=np.float64)
            centroid_ids = np.arange(centroids.shape[0], dtype=np.int64)
        cents_micro = np.floor(centroids * _MICRO).astype(np.int64)
    dim = cents_micro.shape[1]
    cn2 = (cents_micro * cents_micro).sum(axis=1)

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def assign(vecs: pd.Series) -> pd.Series:
        m = _micro_matrix(vecs, dim)
        # exact int64 arithmetic: |micro| ≤ ~2²³ per component, dim ≤ 2¹²
        # keeps every dot/distance far inside int64.  dot: argmax ties →
        # first maximum, i.e. the lowest centroid id (rows are
        # id-ordered), mirroring the oracle's ORDER BY dot DESC, c_id.
        # l2 (fitted tier): squared-L2 argmin, ties → lowest index,
        # mirroring ORDER BY d, c.
        dots = m @ cents_micro.T
        if metric == "dot":
            return pd.Series(centroid_ids[dots.argmax(axis=1)])
        d = (m * m).sum(axis=1, keepdims=True) - 2 * dots + cn2[None, :]
        return pd.Series(centroid_ids[d.argmin(axis=1)])

    from nlp_to_nosql_spark.plans.caching import persisted

    # the assignment frame feeds the cell-size aggregate, the pair search,
    # and the final keep/drop join — persist so the matmul scan runs once.
    assigned = persisted(
        narrow.withColumn("cluster_id", assign(F.col(vec_col))), "vectors"
    )

    thr = float(threshold)

    def in_cell_pairs(key, pdf):
        cluster_id, pa, pb = key
        ids = pdf[id_col].to_numpy()
        x = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
        norms = np.linalg.norm(x, axis=1)
        norms[norms == 0] = np.inf  # zero vectors: cosine defined as 0
        x = x / norms[:, None]
        if pa == pb:
            # one sub-block against itself: symmetric matmul, upper
            # triangle via id order
            sims = np.round(x @ x.T, 6)
            ia, ib = np.nonzero(sims >= thr)
            keep = ids[ia] < ids[ib]
            lo, hi = ids[ia][keep], ids[ib][keep]
            vals = sims[ia, ib][keep]
        else:
            # cross-block: each unordered row pair meets in exactly one
            # (pa, pb) group, so emit every hit (ordered lo < hi)
            in_a = (pdf["_sb"] == pa).to_numpy()
            xa, xb = x[in_a], x[~in_a]
            ids_a, ids_b = ids[in_a], ids[~in_a]
            sims = np.round(xa @ xb.T, 6)
            ia, ib = np.nonzero(sims >= thr)
            lo = np.minimum(ids_a[ia], ids_b[ib])
            hi = np.maximum(ids_a[ia], ids_b[ib])
            vals = sims[ia, ib]
        return pd.DataFrame(
            {
                "id_a": lo,
                "id_b": hi,
                "cluster_id": np.full(len(lo), cluster_id, dtype=np.int64),
                "cos_sim": vals,
            }
        )

    pairs = (
        _sub_blocked(assigned, id_col, vec_col, cell_block_size)
        .groupBy("cluster_id", "_pa", "_pb")
        .applyInPandas(
            in_cell_pairs,
            "id_a long, id_b long, cluster_id long, cos_sim double",
        )
    )

    drops = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return (
        assigned.select(id_col, "cluster_id")
        # drop list ≤ corpus and usually ≪ it → broadcast-sized in the
        # common case; Spark's AQE picks broadcast vs shuffle from the
        # actual size, so no hint is hard-coded.
        .join(drops.withColumn("_dropped", F.lit(True)), id_col, "left")
        .select(
            id_col,
            "cluster_id",
            F.coalesce(~F.col("_dropped"), F.lit(True)).alias("kept"),
        )
    )


def assign_cells(
    df: DataFrame,
    centroids_micro: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``(id, cluster_id)`` exact int64 squared-L2 assignment against a
    fitted :func:`micro_kmeans_fit` matrix — ONE zero-shuffle
    Arrow-batched matmul scan (ties → lowest centroid index, the
    fitted-tier contract).  The assignment-only surface a production
    pipeline persists alongside the corpus (partitioned by cell), and
    the shared kernel of :func:`semantic_dedup_incremental`."""
    cents = np.asarray(centroids_micro, dtype=np.int64)
    dim = cents.shape[1]
    cn2 = (cents * cents).sum(axis=1)

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def assign(vecs: pd.Series) -> pd.Series:
        m = _micro_matrix(vecs, dim)
        d = (m * m).sum(axis=1, keepdims=True) - 2 * (m @ cents.T) + cn2[
            None, :
        ]
        return pd.Series(d.argmin(axis=1).astype(np.int64))

    return df.select(id_col, vec_col).withColumn(
        "cluster_id", assign(F.col(vec_col))
    )


def semantic_dedup_incremental(
    batch: DataFrame,
    corpus_state: DataFrame,
    centroids_micro: np.ndarray,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    compare_to: str = "kept",
    cell_block_size: int = 4096,
) -> DataFrame:
    """Incremental SemDeDup ingest: admit a NEW batch against an
    already-deduplicated corpus WITHOUT re-running any corpus-vs-corpus
    comparison — the tier a production pipeline actually runs daily
    (dedup13's admission discipline applied to dedup15's fitted cells).

    ``corpus_state`` is the persisted prior state ``(id, cluster_id,
    kept, vec)`` — a prior :func:`semantic_dedup` output joined with
    its vectors — and ``centroids_micro`` the frozen
    :func:`micro_kmeans_fit` matrix that produced it.  A batch row is
    DROPPED iff some same-cell corpus row (see ``compare_to``) or some
    LOWER-ID same-cell batch row has ``round(cosine, 6) ≥ threshold``
    against it; batch ids are assumed globally unique and (in the
    ingestion steady state) greater than every corpus id.

    ``compare_to``:

    * ``"all"`` — compare against every corpus row, kept or dropped.
      With corpus ids below batch ids this reproduces the full-rerun
      chain semantics EXACTLY: ``semantic_dedup(corpus ∪ batch,
      centroids_micro=...)`` restricted to the batch (pinned by
      ``test_semdedup_incremental_equals_full_rerun``) — the oracle
      configuration.
    * ``"kept"`` — compare against KEPT representatives only: the
      production default, because dropped rows' vectors are typically
      deleted and cannot be compared against.  Keeps a SUPERSET of the
      ``"all"`` batch keep-set: the two modes differ exactly on batch
      rows whose every within-threshold corpus mate was itself dropped
      (a similarity CHAIN — the dropped mate was near its own
      lower-id representative, but the batch row is not).  Both the
      superset property and a planted chain divergence are test-pinned
      (``test_semdedup_incremental_kept_mode_is_superset``); the modes
      never disagree on a row with a kept near-dup.

    Plan shape (100 TB): batch assignment is one zero-shuffle Arrow
    matmul scan (k×dim ints broadcast in the UDF closure); the corpus
    side is pruned to the batch's TOUCHED CELLS by a broadcast semi
    join on ``cluster_id`` (partition pruning when the state table is
    written partitioned by cell — the accepted corpus is never
    re-scanned beyond those cells, and under ``"kept"`` never beyond
    its kept rows); the only shuffle keys (cell, sub-block pair) over
    batch ∪ touched-cell rows with the same skew sub-blocking as
    :func:`semantic_dedup`; the drop list joins back broadcast-sized.
    The O(|corpus|²/k) pair term of a full rerun is never paid.
    """
    if compare_to not in ("all", "kept"):
        raise ValueError(
            f"semantic_dedup_incremental: compare_to={compare_to!r} "
            "(expected 'all' or 'kept')"
        )
    for col in ("cluster_id", "kept", id_col, vec_col):
        if col not in corpus_state.columns:
            raise ValueError(
                f"semantic_dedup_incremental: corpus_state lacks {col!r} "
                "(expected a prior semantic_dedup output joined with its "
                "vectors)"
            )
    from nlp_to_nosql_spark.plans.caching import persisted

    assigned = persisted(
        assign_cells(batch, centroids_micro, id_col, vec_col),
        "vectors",
    )
    cells = assigned.select("cluster_id").distinct()
    corp = corpus_state
    if compare_to == "kept":
        corp = corp.filter(F.col("kept"))
    corp = corp.join(F.broadcast(cells), "cluster_id", "semi").select(
        "cluster_id", id_col, vec_col, F.lit(False).alias("_new")
    )
    uni = assigned.select(
        "cluster_id", id_col, vec_col, F.lit(True).alias("_new")
    ).unionByName(corp)

    thr = float(threshold)

    def in_cell_drops(key, pdf):
        _, pa, pb = key
        ids = pdf[id_col].to_numpy()
        new = pdf["_new"].to_numpy()
        x = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
        norms = np.linalg.norm(x, axis=1)
        norms[norms == 0] = np.inf
        x = x / norms[:, None]

        def hits(sims, ids_r, new_r, ids_c, new_c):
            # rows = candidate victims (must be NEW); cols = the other
            # side: a corpus mate always drops, a batch mate only if
            # lower-id (the chain order)
            drops_col = (~new_c)[None, :] | (
                ids_c[None, :] < ids_r[:, None]
            )
            mask = sims & drops_col & new_r[:, None]
            return ids_r[mask.any(axis=1)]

        if pa == pb:
            sims = np.round(x @ x.T, 6) >= thr
            np.fill_diagonal(sims, False)
            out = hits(sims, ids, new, ids, new)
        else:
            in_a = (pdf["_sb"] == pa).to_numpy()
            sims = np.round(x[in_a] @ x[~in_a].T, 6) >= thr
            out = np.concatenate(
                [
                    hits(sims, ids[in_a], new[in_a], ids[~in_a], new[~in_a]),
                    hits(sims.T, ids[~in_a], new[~in_a], ids[in_a], new[in_a]),
                ]
            )
        return pd.DataFrame({id_col: out})

    drops = (
        _sub_blocked(uni, id_col, vec_col, cell_block_size, ("_new",))
        .groupBy("cluster_id", "_pa", "_pb")
        .applyInPandas(in_cell_drops, f"{id_col} long")
        .distinct()
    )
    return (
        assigned.select(id_col, "cluster_id")
        .join(drops.withColumn("_dropped", F.lit(True)), id_col, "left")
        .select(
            id_col,
            "cluster_id",
            F.coalesce(~F.col("_dropped"), F.lit(True)).alias("kept"),
        )
    )


def semantic_dedup_sql(
    n_clusters: int = 8,
    threshold: float = 0.4,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of :func:`semantic_dedup` at the contract config —
    relational replay of the integer-micro assignment argmax (dot desc,
    centroid-id asc) against the ``n_clusters`` lowest-id vectors
    (``ORDER BY id LIMIT n``, the same top-k the Spark side collects),
    the within-cell round-6 cosine pairs, and the lower-id-wins drop
    list.  ``cluster_id`` is the actual centroid row id on both engines.

    Note on the threshold comparison: ``np.round`` is half-to-even while
    DuckDB ``ROUND`` is half-away-from-zero, so a cosine landing EXACTLY
    on a 1e-6 grid midpoint could in principle round differently — the
    inherited contract of the whole neardup family
    (``embedding_neardup_exact`` et al.), kept identical here rather
    than diverging from it; thresholds are chosen off-grid in the
    contract queries."""
    return (
        f"WITH m AS (SELECT {id_col}, CAST({vec_col} AS DOUBLE[]) AS v, "
        f"list_transform(CAST({vec_col} AS DOUBLE[]), "
        "x -> CAST(FLOOR(x * 1000000) AS BIGINT)) AS mv "
        f"FROM {table}), "
        f"cents AS (SELECT {id_col} AS c_id, mv AS cv FROM m "
        f"ORDER BY {id_col} LIMIT {n_clusters}), "
        f"mx AS (SELECT {id_col}, CAST(i AS BIGINT) AS j, mv[i + 1] AS x "
        "FROM m, UNNEST(range(0, len(mv))) u(i)), "
        "cx AS (SELECT c_id, CAST(i AS BIGINT) AS j, cv[i + 1] AS c "
        "FROM cents, UNNEST(range(0, len(cv))) u(i)), "
        f"dots AS (SELECT mx.{id_col}, cx.c_id, SUM(mx.x * cx.c) AS dot "
        f"FROM mx JOIN cx ON cx.j = mx.j GROUP BY mx.{id_col}, cx.c_id), "
        f"assign AS (SELECT {id_col}, c_id AS cluster_id FROM dots "
        f"QUALIFY ROW_NUMBER() OVER (PARTITION BY {id_col} "
        "ORDER BY dot DESC, c_id) = 1), "
        f"pairs AS (SELECT sb.{id_col} AS id_b "
        "FROM assign sa JOIN assign sb ON sa.cluster_id = sb.cluster_id "
        f"AND sa.{id_col} < sb.{id_col} "
        f"JOIN m a ON a.{id_col} = sa.{id_col} "
        f"JOIN m b ON b.{id_col} = sb.{id_col} "
        f"WHERE ROUND(list_cosine_similarity(a.v, b.v), 6) >= {threshold}) "
        f"SELECT s.{id_col}, CAST(s.cluster_id AS BIGINT) AS cluster_id, "
        "(d.id_b IS NULL) AS kept "
        "FROM assign s LEFT JOIN (SELECT DISTINCT id_b FROM pairs) d "
        f"ON d.id_b = s.{id_col}"
    )


_H28_SQL = (
    "CAST(CAST('0x' || substr(md5('{tag}' || CAST({c} AS VARCHAR)), 1, 7) "
    "AS UBIGINT) AS BIGINT)"
)


def semantic_dedup_fitted_sql(
    n_clusters: "int | str" = 8,
    iters: int = 2,
    threshold: float = 0.4,
    seed: int = 7,
    sample_mod: int = 4,
    sample_keep: int = 2,
    dim: int = 64,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_cell_rows: int = 512,
) -> str:
    """DuckDB twin of ``semantic_dedup(fit="micro_kmeans")`` — the
    ENTIRE sampled-Lloyd's fit replayed relationally: the seeded md5
    hash sample, the hash-spread init (smallest ``(hash, id)`` top-k),
    ``iters`` unrolled iterations of exact int64 squared-L2 assignment
    (ties → lowest centroid index) and BIGINT floor-division means
    (``FLOOR(CAST(s AS DOUBLE)/n)`` ≡ Python ``s // n`` for
    ``|s| < 2^53`` — micro components are ~2^23, so exactness holds to
    ~2^30 rows per cell), then the full-corpus assignment, the
    within-cell round-6 cosine pairs, and the lower-id-wins drop list.
    ``cluster_id`` is the 0-based centroid index on both engines.

    Spark converging early is invisible here: once ``new == old`` the
    update is a fixpoint, so extra unrolled iterations reproduce the
    same centroids.
    """
    parts = _fitted_fa_parts(
        n_clusters, iters, seed, sample_mod, sample_keep, dim,
        table, id_col, vec_col, target_cell_rows=target_cell_rows,
    )
    parts.append(
        f"pairs AS (SELECT sb.{id_col} AS id_b "
        "FROM fa sa JOIN fa sb ON sa.cluster_id = sb.cluster_id "
        f"AND sa.{id_col} < sb.{id_col} "
        f"JOIN m a ON a.{id_col} = sa.{id_col} "
        f"JOIN m b ON b.{id_col} = sb.{id_col} "
        f"WHERE ROUND(list_cosine_similarity(a.v, b.v), 6) "
        f">= {threshold})"
    )
    return (
        ", ".join(parts)
        + f" SELECT s.{id_col}, CAST(s.cluster_id AS BIGINT) AS cluster_id, "
        "(d.id_b IS NULL) AS kept "
        "FROM fa s LEFT JOIN (SELECT DISTINCT id_b FROM pairs) d "
        f"ON d.id_b = s.{id_col}"
    )


def _sq_dist_sql(dim: int) -> str:
    """Exact int64 squared-L2 list comprehension (format with a=, b=)."""
    return (
        "list_sum([({a}[i] - {b}[i]) * ({a}[i] - {b}[i]) "
        f"for i in range(1, {dim + 1})])"
    )


def _fitted_fa_parts(
    n_clusters: "int | str",
    iters: int,
    seed: int,
    sample_mod: int,
    sample_keep: int,
    dim: int,
    table: str,
    id_col: str,
    vec_col: str,
    target_cell_rows: int = 512,
) -> list[str]:
    """The fit+assign CTE chain shared by the fitted and incremental
    twins: ``m`` (micro vectors of ``table``), ``tr`` (seeded training
    sample), ``c0..cN`` (unrolled Lloyd's), ``fd``/``fa`` (full
    assignment of ``table``).  ``table`` may be a parenthesized
    aliased subquery (the incremental twin's corpus split).

    ``n_clusters="auto"`` emits a scalar-subquery ``LIMIT`` deriving
    ``GREATEST(8, CEIL(COUNT(*) / target_cell_rows))`` from the ``m``
    CTE — the exact integer :func:`~nlp_to_nosql_spark.operators.
    similarity.resolve_n_cells` computes Spark-side, so ONE static SQL
    string stays the value twin at every scale factor.  Only the
    ``c0`` LIMIT depends on the cluster count (Lloyd's iterations and
    assignment range over whatever centroids ``c0`` holds), which is
    what makes the dynamic form possible."""
    if n_clusters == "auto":
        limit_expr = (
            "(SELECT GREATEST(8, CAST(CEIL(COUNT(*) / "
            f"{float(target_cell_rows)}) AS BIGINT)) FROM m)"
        )
    else:
        limit_expr = str(int(n_clusters))
    hs = _H28_SQL.format(tag=f"kmfit{seed}:", c=id_col)
    hi = _H28_SQL.format(tag=f"kminit{seed}:", c=id_col)
    sq = _sq_dist_sql(dim)
    parts = [
        f"WITH m AS (SELECT {id_col}, CAST({vec_col} AS DOUBLE[]) AS v, "
        f"list_transform(CAST({vec_col} AS DOUBLE[]), "
        "x -> CAST(FLOOR(x * 1000000) AS BIGINT)) AS mv "
        f"FROM {table}), "
        f"tr AS (SELECT {id_col}, mv FROM m "
        f"WHERE {hs} % {sample_mod} < {sample_keep}), "
        "c0 AS (SELECT CAST(row_number() OVER (ORDER BY h, "
        f"{id_col}) - 1 AS BIGINT) AS c, mv AS cm "
        f"FROM (SELECT {id_col}, mv, {hi} AS h FROM tr) "
        f"ORDER BY h, {id_col} LIMIT {limit_expr})"
    ]
    for k in range(1, int(iters) + 1):
        d = sq.format(a="t.mv", b="c.cm")
        parts.append(
            f"d{k} AS (SELECT t.{id_col}, c.c, {d} AS d "
            f"FROM tr t, c{k - 1} c), "
            f"a{k} AS (SELECT {id_col}, c FROM d{k} "
            f"QUALIFY row_number() OVER (PARTITION BY {id_col} "
            "ORDER BY d, c) = 1), "
            f"s{k} AS (SELECT a.c, i AS pos, "
            "CAST(SUM(t.mv[i]) AS BIGINT) AS s, COUNT(*) AS n "
            f"FROM a{k} a JOIN tr t USING ({id_col}), "
            f"UNNEST(range(1, {dim + 1})) u(i) GROUP BY a.c, i), "
            f"n{k} AS (SELECT c, list(CAST(FLOOR(CAST(s AS DOUBLE) / n) "
            "AS BIGINT) ORDER BY pos) AS cm "
            f"FROM s{k} GROUP BY c), "
            f"c{k} AS (SELECT p.c, COALESCE(x.cm, p.cm) AS cm "
            f"FROM c{k - 1} p LEFT JOIN n{k} x USING (c))"
        )
    dfin = sq.format(a="m.mv", b="c.cm")
    parts.append(
        f"fd AS (SELECT m.{id_col}, c.c, {dfin} AS d "
        f"FROM m, c{int(iters)} c), "
        f"fa AS (SELECT {id_col}, c AS cluster_id FROM fd "
        f"QUALIFY row_number() OVER (PARTITION BY {id_col} "
        "ORDER BY d, c) = 1)"
    )
    return parts


def semantic_dedup_incremental_sql(
    corpus_pred: str,
    n_clusters: int = 8,
    iters: int = 2,
    threshold: float = 0.4,
    seed: int = 7,
    sample_mod: int = 4,
    sample_keep: int = 2,
    dim: int = 64,
    compare_to: str = "kept",
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of the FULL incremental scenario: fit micro-k-means
    on the corpus split (rows of ``table`` satisfying ``corpus_pred``),
    replay the prior run's corpus keep/drop state, then admit the
    remaining rows as the batch via
    :func:`semantic_dedup_incremental`'s drop rule — a batch row drops
    on a same-cell corpus mate (kept-only under ``compare_to='kept'``,
    any under ``'all'``) or a lower-id same-cell batch mate.  Returns
    the BATCH rows ``(id, cluster_id, kept)``."""
    if compare_to not in ("all", "kept"):
        raise ValueError(f"compare_to={compare_to!r}")
    corpus_src = f"(SELECT * FROM {table} WHERE {corpus_pred}) corp"
    parts = _fitted_fa_parts(
        n_clusters, iters, seed, sample_mod, sample_keep, dim,
        corpus_src, id_col, vec_col,
    )
    sq = _sq_dist_sql(dim)
    kept_filter = "AND ck.kept " if compare_to == "kept" else ""
    bdist = sq.format(a="bm.mv", b="c.cm")
    parts.append(
        # prior corpus state: within-cell pairs -> kept flags
        f"cpairs AS (SELECT sb.{id_col} AS id_b "
        "FROM fa sa JOIN fa sb ON sa.cluster_id = sb.cluster_id "
        f"AND sa.{id_col} < sb.{id_col} "
        f"JOIN m a ON a.{id_col} = sa.{id_col} "
        f"JOIN m b ON b.{id_col} = sb.{id_col} "
        f"WHERE ROUND(list_cosine_similarity(a.v, b.v), 6) "
        f">= {threshold}), "
        f"ck AS (SELECT s.{id_col}, s.cluster_id, "
        "(d.id_b IS NULL) AS kept "
        "FROM fa s LEFT JOIN (SELECT DISTINCT id_b FROM cpairs) d "
        f"ON d.id_b = s.{id_col}), "
        # the new batch: micro vectors + assignment against the FITTED
        # centroids (cN), exact int64 L2 argmin, ties -> lowest index
        f"bm AS (SELECT {id_col}, CAST({vec_col} AS DOUBLE[]) AS v, "
        f"list_transform(CAST({vec_col} AS DOUBLE[]), "
        "x -> CAST(FLOOR(x * 1000000) AS BIGINT)) AS mv "
        f"FROM {table} WHERE NOT ({corpus_pred})), "
        f"bd AS (SELECT bm.{id_col}, c.c, {bdist} AS d "
        f"FROM bm, c{int(iters)} c), "
        f"ba AS (SELECT {id_col}, c AS cluster_id FROM bd "
        f"QUALIFY row_number() OVER (PARTITION BY {id_col} "
        "ORDER BY d, c) = 1), "
        # drop rule: corpus mate (kept-only or any) OR lower-id batch
        f"bdrops AS (SELECT b.{id_col} FROM ba b "
        "JOIN ck ON ck.cluster_id = b.cluster_id "
        f"{kept_filter}"
        f"JOIN m cm ON cm.{id_col} = ck.{id_col} "
        f"JOIN bm bv ON bv.{id_col} = b.{id_col} "
        f"WHERE ROUND(list_cosine_similarity(cm.v, bv.v), 6) "
        f">= {threshold} "
        "UNION "
        f"SELECT b2.{id_col} FROM ba b1 "
        "JOIN ba b2 ON b1.cluster_id = b2.cluster_id "
        f"AND b1.{id_col} < b2.{id_col} "
        f"JOIN bm v1 ON v1.{id_col} = b1.{id_col} "
        f"JOIN bm v2 ON v2.{id_col} = b2.{id_col} "
        f"WHERE ROUND(list_cosine_similarity(v1.v, v2.v), 6) "
        f">= {threshold})"
    )
    return (
        ", ".join(parts)
        + f" SELECT b.{id_col}, CAST(b.cluster_id AS BIGINT) AS cluster_id, "
        f"(d.{id_col} IS NULL) AS kept "
        f"FROM ba b LEFT JOIN (SELECT DISTINCT {id_col} FROM bdrops) d "
        f"USING ({id_col})"
    )
