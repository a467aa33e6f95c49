"""IVF (inverted-file) approximate nearest neighbor over embedding columns.

The scale path for similarity search when LSH recall is not enough:
k-means-cluster the corpus into ``n_lists`` coarse cells (Lloyd's
iterations as DataFrame jobs — assignment is a codegen'd argmin over
centroid literals, the update is one groupBy per iteration), persist the
``(id, list_id)`` assignment, then answer queries by scanning only the
``nprobe`` cells whose centroids are closest to the query.

Centroids are k×dim floats — driver-resident by design (same contract as
MLlib KMeans); the corpus itself never leaves executors.  At 100 TB the
assignment column would be written next to the vectors (partitioned by
``list_id``) so probes become partition-pruned scans.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nlp_to_nosql_spark.operators.similarity import topk_bruteforce

#: Row ceiling for the k-means TRAINING set when ``fit`` is called without
#: an explicit ``train_on``.  Lloyd's cost is max_iter full scans of the
#: training vectors; at the 100 TB design point that must default to a
#: sample, not the corpus (sampled means estimate the full-corpus means
#: with √s-scaled noise, and full-probe exactness never depends on where
#: centroids came from).  Full-corpus training is an explicit
#: ``train_on=df``.
_TRAIN_CAP = 100_000


class IVFIndex:
    """Deterministic IVF index: seeded centroid init, fixed iteration count."""

    def __init__(
        self,
        n_lists: int = 16,
        max_iter: int = 5,
        seed: int = 42,
        init: str = "hash-spread",
    ):
        if init not in ("hash-spread", "lowest-id"):
            raise ValueError("init must be 'hash-spread' or 'lowest-id'")
        self.n_lists, self.max_iter, self.seed = n_lists, max_iter, seed
        self.init = init
        self.centroids: np.ndarray | None = None

    def _init_rows(self, narrow: DataFrame, id_col: str, vec_col: str) -> list:
        """Seed centroids deterministically from the training frame.

        Default ``hash-spread``: the ``n_lists`` vectors with the SMALLEST
        seeded id-hashes — a deterministic uniform sample.  Insertion
        order commonly correlates with a data region (source, shard,
        time), so the legacy ``lowest-id`` init (the ``n_lists`` lowest-id
        vectors) can seed every centroid inside ONE region and leave
        Lloyd's 5 iterations stuck with degenerate cells; hash order is
        uncorrelated with any such ordering while staying RNG-free and
        retry-stable, and always yields exactly ``min(n, n_lists)`` rows.
        Same plan shape as the legacy init (TakeOrdered over the persisted
        narrow frame)."""
        order = (
            [F.col(id_col)]
            if self.init == "lowest-id"
            else [F.xxhash64(F.lit(self.seed), F.col(id_col)), F.col(id_col)]
        )
        return narrow.orderBy(*order).limit(self.n_lists).select(vec_col).collect()

    def _assign_col(self, vec_col: str) -> F.Column:
        """list_id = argmin over centroid distances.

        Vectorized Arrow-batched pandas UDF: the k×dim centroid matrix is
        closure-captured (it would be a k·dim-literal expression tree
        otherwise — recompiled per k-means iteration, and far slower than
        one numpy matmul per batch).  ||x-c||² = ||x||² - 2x·c + ||c||²;
        the ||x||² term doesn't affect the argmin, so only x·c is computed.
        """
        from pyspark.sql.functions import pandas_udf

        cents = self.centroids.copy()
        half_sq = 0.5 * (cents**2).sum(axis=1)

        @pandas_udf("int")
        def assign(vecs: pd.Series) -> pd.Series:
            x = np.asarray(vecs.tolist(), dtype=np.float64)
            scores = x @ cents.T - half_sq  # argmax ⇔ L2 argmin
            return pd.Series(scores.argmax(axis=1).astype("int32"))

        return assign(F.col(vec_col))

    def fit(
        self,
        df: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        train_on: DataFrame | None = None,
    ) -> DataFrame:
        """Lloyd's k-means; returns the (id, vec, list_id) assignment frame.

        Init is seeded-hash-spread by default (see :meth:`_init_rows`;
        deterministic, no RNG on data).  Each iteration: one scan for
        assignment + a 2-level groupBy
        for means; empty cells keep their previous centroid.

        ``train_on`` restricts the k-means ITERATIONS to a subset while the
        returned assignment still covers all of ``df`` — the 100 TB shape:
        Lloyd's passes over a deterministic sample (cost ∝ sample), then
        ONE full-corpus assignment scan.  Cell quality degrades gracefully
        (k-means on an s-sample estimates the same means with √s-scaled
        noise); probe exactness is a property of ``nprobe``, not of where
        the centroids came from.

        When ``train_on`` is None the sampled shape is the DEFAULT: if the
        corpus exceeds ``_TRAIN_CAP`` rows (100k), the training set is a
        deterministic hash sample of ~that many vectors
        (partition-layout-independent, so retries and re-runs train on the
        same rows).  Full-corpus training is the opt-in
        (``train_on=df``), not the accident.
        """
        # No fan_out here: the assignment UDF is one numpy matmul per Arrow
        # batch (memory-bandwidth-bound), so natural input splits give all
        # the parallelism the scan needs; extra partitions only add Python
        # worker spawns.
        from nlp_to_nosql_spark.plans.caching import persisted

        train = train_on
        if train is None:
            train = df
            total = df.select(id_col).count()
            if total > _TRAIN_CAP:
                # Deterministic ~cap-row hash sample: keep ids whose
                # seeded hash falls under cap/total of the bucket space.
                denom = 1 << 20
                keep = max(1, -(-_TRAIN_CAP * denom // total))  # ceil
                train = df.filter(
                    F.pmod(
                        F.xxhash64(F.lit(self.seed), F.col(id_col)),
                        F.lit(denom),
                    )
                    < keep
                )

        # Re-scanned once per Lloyd's iteration: memory with disk spillover.
        narrow = persisted(train.select(id_col, vec_col), "vectors")
        init_rows = self._init_rows(narrow, id_col, vec_col)
        if len(init_rows) < self.n_lists:
            if train_on is not None:
                # An explicit training set is a caller decision — silently
                # replacing it with max_iter FULL-corpus scans would incur
                # exactly the cost train_on exists to avoid.  Fail loudly.
                raise ValueError(
                    f"train_on yields {len(init_rows)} vectors but n_lists="
                    f"{self.n_lists}; pass a larger training set or fewer lists"
                )
            if train is not df:
                # Internal training sample came up short (unlucky hash
                # draw): fall back to the full corpus.
                narrow.unpersist()
                narrow = persisted(df.select(id_col, vec_col), "vectors")
                init_rows = self._init_rows(narrow, id_col, vec_col)
        self.centroids = np.array(
            [[float(x) for x in r[vec_col]] for r in init_rows]
        )
        dim = self.centroids.shape[1]

        for _ in range(self.max_iter):
            assigned = narrow.withColumn("list_id", self._assign_col(vec_col))
            # per-cell means via posexplode: n_lists·dim output rows, narrow
            # codegen (a dim-wide avg list compiles a pathological plan).
            means = (
                assigned.select("list_id", F.posexplode(F.col(vec_col)))
                .groupBy("list_id", "pos")
                .agg(F.avg(F.col("col").cast("double")).alias("m"))
                .collect()
            )
            new_cents = self.centroids.copy()
            sums: dict[int, np.ndarray] = {}
            for row in means:
                sums.setdefault(row["list_id"], np.zeros(dim))[row["pos"]] = row["m"]
            for list_id, cent in sums.items():
                new_cents[list_id] = cent
            if np.allclose(new_cents, self.centroids, atol=1e-9):
                break
            self.centroids = new_cents

        out = df.select(id_col, vec_col).withColumn(
            "list_id", self._assign_col(vec_col)
        )
        narrow.unpersist()
        return out

    def probe_lists(self, query: Sequence[float], nprobe: int) -> list[int]:
        """Cells to scan for ``query``, ranked by COSINE to each centroid —
        the same metric :meth:`topk` ranks vectors by, so partial-probe
        recall doesn't degrade for unnormalized corpora the way an L2
        cell ranking would (a large-magnitude cosine-near vector can live
        in an L2-far cell).  Cell CONSTRUCTION is still Lloyd's-L2
        k-means; at full probe the result is exact regardless."""
        if self.centroids is None:
            raise RuntimeError(
                "IVFIndex is not fitted — call fit() before probe_lists/topk"
            )
        q = np.asarray(query, dtype=np.float64)
        qn = np.linalg.norm(q)
        cn = np.linalg.norm(self.centroids, axis=1)
        denom = np.where(cn * qn > 0, cn * qn, np.inf)
        cos = (self.centroids @ q) / denom
        return [int(i) for i in np.argsort(-cos, kind="stable")[:nprobe]]

    def topk(
        self,
        assigned: DataFrame,
        query: Sequence[float],
        k: int = 10,
        nprobe: int = 4,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> DataFrame:
        """Top-k cosine among vectors in the ``nprobe`` closest cells.

        With ``nprobe == n_lists`` this is exactly :func:`topk_bruteforce`
        (full scan) — the oracle-checkable configuration.
        """
        lists = self.probe_lists(query, nprobe)
        cand = assigned.filter(F.col("list_id").isin(lists))
        return topk_bruteforce(cand, query, k, id_col, vec_col)


    def write_partitioned(self, assigned: DataFrame, path: str) -> None:
        """Persist the assignment table partitioned by ``list_id``.

        At corpus scale the index is built once and probed many times;
        hive-style ``list_id=N`` directories turn every probe into a
        partition-pruned scan that reads only the ``nprobe`` probed cells
        from disk — the filter never touches the other cells' files.
        """
        assigned.write.mode("overwrite").partitionBy("list_id").parquet(path)

    def topk_from_disk(
        self,
        spark,
        path: str,
        query: Sequence[float],
        k: int = 10,
        nprobe: int = 4,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> DataFrame:
        """Top-k probing a :meth:`write_partitioned` index: the
        ``list_id IN (...)`` filter prunes to the probed cells' partition
        directories at planning time (visible as a reduced partition count
        in the scan node — guarded by a test)."""
        lists = self.probe_lists(query, nprobe)
        cand = spark.read.parquet(path).filter(F.col("list_id").isin(lists))
        return topk_bruteforce(cand, query, k, id_col, vec_col)
