"""Similarity search over embedding columns (``array<float>``).

Two tiers (SURVEY driver brief):

* ``topk_bruteforce`` — exact cosine top-k.  The per-row math is a
  codegen'd ``zip_with``/``aggregate``; the top-k is Spark's
  TakeOrderedAndProject (per-partition heaps + driver merge of k·P rows),
  so nothing but k rows per partition ever moves.  This is the correct
  baseline even at 100 TB when k is small.
* ``IntSRPLSH`` — integer sign-bit signatures for the scale path:
  bucket the corpus by signature (one shuffle, done once), then probe only
  buckets within a small Hamming radius of the query's signature.
  Embedding near-dup pairs reuse the same signatures.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from nlp_to_nosql_spark.functions.vectors import cosine, lit_vector
from nlp_to_nosql_spark.plans.caching import persisted
from nlp_to_nosql_spark.plans.partitioning import fan_out

#: Row-count ceiling for the exact O(n²) tiers
#: (:func:`embedding_neardup_exact`, :func:`knn_graph`, per cell in
#: :func:`knn_graph_celled`).  Above it the operator raises and points
#: at the scalable tier rather than melting the cluster.
_EXACT_MAX_ROWS = 1_000_000


def topk_bruteforce(
    df: DataFrame,
    query: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine similarity, deterministic tie-break on id.

    Non-finite similarities (corrupt embeddings with inf/NaN components)
    rank LAST via nanvl→-inf: Spark's DESC would otherwise sort NaN first
    and let garbage rows displace the true top-k."""
    q = lit_vector(query)
    return (
        fan_out(df).select(
            F.col(id_col),
            F.nanvl(
                F.round(cosine(F.col(vec_col), q), 6), F.lit(float("-inf"))
            ).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def topk_per_group(
    df: DataFrame,
    query: Sequence[float],
    k: int = 3,
    group_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact per-group cosine top-k — grouped retrieval ("the k nearest
    items in EVERY category"), one scan + one shuffle on the group key.

    The rank window partitions by ``group_col``, so per-partition state is
    a k-row heap per group and the shuffle moves only (id, group, sim) —
    never the vectors.  Non-finite sims rank last (see
    :func:`topk_bruteforce`); ties break on id for determinism.
    """
    q = lit_vector(query)
    scored = fan_out(df).select(
        F.col(id_col),
        F.col(group_col),
        F.nanvl(
            F.round(cosine(F.col(vec_col), q), 6), F.lit(float("-inf"))
        ).alias("cos_sim"),
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("cos_sim").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= int(k))
        .select(group_col, id_col, "cos_sim", F.col("rnk").cast("long").alias("rnk"))
    )


def topk_batch(
    df: DataFrame,
    queries: Sequence[tuple[int, Sequence[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k for a BATCH of query vectors in one corpus scan.

    The realistic ANN workload shape: Q queries amortize one pass over the
    corpus instead of Q passes.  The Q×dim query matrix is closure-captured
    (broadcast with the serialized task — same driver-resident contract as
    IVF centroids); each Arrow batch computes one normalized numpy matmul
    X·Qᵀ and keeps only the per-batch top-k rows per query, so at most
    Q·k·n_batches candidate rows ever shuffle, independent of corpus size.
    A final per-query window rank merges candidates exactly.

    Candidate pruning is lossless: batch-local and global ranking use the
    same total order (rounded sim desc, id asc), so any row dropped by its
    batch is outranked by ≥ k surviving rows from that same batch.
    """
    import pandas as pd

    qids = np.asarray([int(q[0]) for q in queries], dtype=np.int64)
    qmat = np.asarray([list(map(float, q[1])) for q in queries], dtype=np.float64)
    qnorm = np.linalg.norm(qmat, axis=1)
    qnorm[qnorm == 0] = np.inf  # zero query: all cosines 0
    qunit = qmat / qnorm[:, None]
    kk = int(k)

    def score(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            x = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            norms = np.linalg.norm(x, axis=1)
            norms[norms == 0] = np.inf
            sims = np.round((x / norms[:, None]) @ qunit.T, 6)  # n×Q
            # Non-finite sims (inf/NaN embedding components) → -inf so the
            # batch lexsort and the final Spark window agree on one total
            # order (np sorts NaN last, Spark DESC sorts NaN first — a
            # lossless-pruning violation if left inconsistent).
            sims[~np.isfinite(sims)] = -np.inf
            out_q, out_id, out_sim = [], [], []
            for j in range(len(qids)):
                # total order: sim desc, id asc — identical to the final rank
                order = np.lexsort((ids, -sims[:, j]))[:kk]
                out_q.append(np.full(len(order), qids[j]))
                out_id.append(ids[order])
                out_sim.append(sims[order, j])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    id_col: np.concatenate(out_id),
                    "cos_sim": np.concatenate(out_sim),
                }
            )

    candidates = fan_out(df.select(id_col, vec_col)).mapInPandas(
        score, f"query_id long, {id_col} long, cos_sim double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col(id_col)
    )
    return (
        candidates.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= kk)
        .select("query_id", id_col, "cos_sim")
    )


def embedding_neardup_exact(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_size: int = 1024,
    n_blocks: int | None = None,
) -> DataFrame:
    """Exact embedding-cosine near-dup pairs (id_a < id_b, cos ≥ threshold).

    Blocked all-pairs: rows are bucketed into ⌈n/block_size⌉ id-hash
    blocks, each row is replicated to every unordered block-pair it
    participates in, and each (block_a, block_b) group computes one
    normalized numpy matmul inside ``applyInPandas``.  Exact O(n²)
    comparisons — but as dense BLAS kernels over bounded 2·block_size
    groups, not per-pair array folds, and replication (×n_blocks) is the
    inherent cost of exactness.  At corpus scale prefer
    :meth:`IntSRPLSH.neardup_pairs`, which buckets by signature
    first and only verifies within buckets.

    Fail-fast scale guard: the exact tier REFUSES inputs above
    ``_EXACT_MAX_ROWS`` (1M ≈ 5·10¹¹ dot products, the outer edge of
    what "run the exact tier anyway" can mean) by raising
    ``ValueError`` pointing at the LSH tier, instead of launching a
    quadratic job on a corpus-scale frame.  The check is bounded
    (LIMIT ceiling+1, never a full count when ``n_blocks`` is
    explicit).
    """
    import numpy as np
    import pandas as pd

    ceiling = _EXACT_MAX_ROWS

    def _refuse(n_seen: int) -> None:
        raise ValueError(
            f"embedding_neardup_exact: input has more than {ceiling} rows "
            f"(saw ≥ {n_seen}); the exact all-pairs tier is O(n²) and "
            "would not complete at this scale. Use "
            "IntSRPLSH.neardup_pairs (signature-bucketed, "
            "measured recall in tests/test_recall.py)."
        )

    narrow = df.select(id_col, vec_col)
    if n_blocks is None:
        # The sizing pass needs a row count; persist the narrow projection
        # first so the count materializes the SAME frame the blocked
        # compute then reads, instead of running an expensive derived
        # lineage twice (``vectors`` level: memory, spilling to disk).
        from nlp_to_nosql_spark.plans.caching import persisted

        narrow = persisted(narrow, "vectors")
        n = narrow.count()
        if n > ceiling:
            # Don't leak the cache on the refusal path: the frame was
            # persisted for the blocked compute that now never runs
            # (round-6 advice).
            narrow.unpersist()
            _refuse(n)
        n_blocks = max(1, -(-n // block_size))
    else:
        # Caller supplied n_blocks (no sizing count happens): probe with
        # a LIMIT-bounded count so the guard itself never scans more
        # than ceiling+1 rows.
        probe = narrow.limit(ceiling + 1).count()
        if probe > ceiling:
            _refuse(probe)

    blocks = fan_out(narrow).withColumn(
        "blk", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int")
    )
    # replicate each row to every unordered block-pair containing its block
    replicated = blocks.select(
        id_col,
        vec_col,
        "blk",
        F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("other"),
    ).select(
        id_col,
        vec_col,
        "blk",
        F.least("blk", "other").alias("pa"),
        F.greatest("blk", "other").alias("pb"),
    )

    thr = float(threshold)

    def compare(key, pdf):
        pa, pb = key
        ids = pdf[id_col].to_numpy()
        x = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
        norms = np.linalg.norm(x, axis=1)
        norms[norms == 0] = np.inf  # zero vectors: cosine defined as 0
        x = x / norms[:, None]
        in_a = (pdf["blk"] == pa).to_numpy()
        if pa == pb:
            sims = np.round(x @ x.T, 6)
            ia, ib = np.nonzero(sims >= thr)
            vals = sims[ia, ib]
            keep = ids[ia] < ids[ib]
            ids_row, ids_col = ids[ia], ids[ib]
        else:
            xa, xb = x[in_a], x[~in_a]
            ids_a, ids_b = ids[in_a], ids[~in_a]
            sims = np.round(xa @ xb.T, 6)
            ia, ib = np.nonzero(sims >= thr)
            vals = sims[ia, ib]
            keep = np.ones(len(ia), dtype=bool)
            ids_row, ids_col = ids_a[ia], ids_b[ib]
        lo = np.minimum(ids_row, ids_col)[keep]
        hi = np.maximum(ids_row, ids_col)[keep]
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cos_sim": vals[keep]})

    return replicated.groupBy("pa", "pb").applyInPandas(
        compare, "id_a long, id_b long, cos_sim double"
    )


def _md5_plane_int(seed: int, bit: int, dim_j: int) -> int:
    """Deterministic hyperplane component: first 24 md5 bits of
    ``srp:{seed}:{bit}:{dim_j}`` centered at zero — [-2^23, 2^23).
    DuckDB replays it as
    ``CAST('0x'||substr(md5(...),1,6) AS UBIGINT) - 8388608``."""
    import hashlib

    h = hashlib.md5(f"srp:{seed}:{bit}:{dim_j}".encode()).hexdigest()[:6]
    return int(h, 16) - (1 << 23)


class IntSRPLSH:
    """Integer-EXACT sign-random-projection LSH — the oracle-reproducible
    signature family (the ``dedup9``/``dedup10`` discipline applied to
    SRP).

    ``nbits`` hyperplanes with a fixed seed (deterministic) → a signature
    column ``sign_bits`` (long).  Gaussian float planes would sign float
    dot products, and float accumulation order differs between engines
    — a near-zero projection can flip a bit, so they carry no
    value-level oracle.  Here both factors of every dot product are
    integers: hyperplane components are md5-derived 24-bit ints
    (:func:`_md5_plane_int`) and vector components are floor-scaled
    integer micros, so each sign bit is the sign of an exact BIGINT sum
    (|c| < 2^23, |m| ≤ maxabs·1e6 ⇒ safe while maxabs·dim < ~10^6 —
    any normalized-ish embedding) — bit-identical in any engine, and
    the whole top-k pipeline (signatures → Hamming prefilter → exact
    cosine re-rank) replays relationally in DuckDB.

    Statistically the planes are iid uniform on a hypercube rather than
    Gaussian, so P(bit differs) is no longer exactly θ/π — it is still
    symmetric, monotone in angle, and zero-mean per coordinate; recall
    at the entry configuration is a measured number
    (tests/test_recall.py), which is the contract that matters for a
    candidate generator.  Ties-to-zero dot products clear the bit
    (``> 0``, the simhash convention) identically in both engines.

    Signatures come from :meth:`add_signatures` (Arrow) or
    :meth:`signature_of` (pure Python); :meth:`topk` and
    :meth:`neardup_pairs` band and probe them.
    """

    def __init__(self, dim: int, nbits: int = 16, seed: int = 42):
        if not 1 <= nbits <= 63:
            raise ValueError("nbits must be in [1, 63]")
        self.dim, self.nbits, self.seed = dim, nbits, seed
        self.planes = [
            [_md5_plane_int(seed, b, j) for j in range(dim)]
            for b in range(nbits)
        ]

    def add_signatures(
        self, df: DataFrame, vec_col: str = "embedding"
    ) -> DataFrame:
        """Append ``sign_bits`` (long) with one ``mapInPandas`` pass: the
        nbits·dim integer multiply-adds per row run as ONE exact numpy
        int64 matmul per Arrow batch against the plane matrix (|c| < 2^23,
        |m| ≤ maxabs·1e6, dim·2^23·maxabs·1e6 ≪ 2^63 for any
        normalized-ish embedding — no overflow).  Zero shuffle, nothing
        collected; rows stream through Python workers
        batch-at-a-time.  Measured ~2× faster end-to-end on ann2 at sf0.1
        than the interpreted-HOF Column form it replaced; pinned
        bit-equal to :meth:`signature_of` by tests/test_similarity.py.

        FAILS FAST on ragged input (``len(vec) != dim``) rather than
        signing a partial dot, which DuckDB's relational replay would not
        reproduce.
        """
        import pandas as pd
        from pyspark.sql.types import LongType, StructField, StructType

        planes_t = np.asarray(self.planes, dtype=np.int64).T  # dim × nbits
        dim, nbits = self.dim, self.nbits
        weights = np.int64(1) << np.arange(nbits, dtype=np.int64)
        cols = [f.name for f in df.schema.fields]
        out_schema = StructType(
            df.schema.fields + [StructField("sign_bits", LongType(), False)]
        )

        def sign(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                lens = pdf[vec_col].map(len)
                if (lens != dim).any():
                    bad = int(lens[lens != dim].iloc[0])
                    raise ValueError(
                        f"IntSRPLSH: vector dim != {dim} (got {bad}); "
                        "ragged input would produce an all-zero signature"
                    )
                vm = np.floor(
                    np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                    * 1_000_000
                ).astype(np.int64)
                dots = vm @ planes_t  # exact int64 matmul, n × nbits
                pdf = pdf[cols].copy()
                pdf["sign_bits"] = ((dots > 0) * weights).sum(axis=1)
                yield pdf

        return fan_out(df).mapInPandas(sign, schema=out_schema)

    def signature_of(self, vec: Sequence[float]) -> int:
        import math

        if len(vec) != self.dim:
            raise ValueError(
                f"IntSRPLSH: vector dim != {self.dim} (got {len(vec)})"
            )
        m = [math.floor(float(v) * 1_000_000) for v in vec]
        sig = 0
        for i, plane in enumerate(self.planes):
            if sum(c * mm for c, mm in zip(plane, m)) > 0:
                sig |= 1 << i
        return sig

    def topk(
        self,
        df: DataFrame,
        query: Sequence[float],
        k: int = 10,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        max_hamming: int = 2,
    ) -> DataFrame:
        """Approximate top-k: score only vectors whose signature is within
        ``max_hamming`` bits of the query's (multi-probe).

        Projects to ``(id, vec)`` BEFORE the signature pass: its
        ``mapInPandas`` is a column-pruning barrier, so the narrow select
        here is what keeps payload columns out of the Arrow round-trip."""
        sig_df = self.add_signatures(df.select(id_col, vec_col), vec_col)
        qsig = self.signature_of(query)
        candidates = sig_df.filter(
            F.bit_count(F.col("sign_bits").bitwiseXOR(F.lit(qsig))) <= max_hamming
        )
        return topk_bruteforce(candidates, query, k, id_col, vec_col)

    def neardup_pairs(
        self,
        df: DataFrame,
        threshold: float = 0.95,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        bands: int = 1,
    ) -> DataFrame:
        """Embedding-cosine near-dup pairs: candidates from sign-bit
        buckets, verified with exact cosine — so precision is always 1.0
        and ``bands`` is purely a recall/cost dial.

        ``bands=1`` (default) buckets by the EXACT signature — right for
        genuinely near-identical pairs (cos ≥ ~0.95, where
        P(all bits agree) = (1-θ/π)^nbits stays high).  For moderate
        thresholds split the signature into ``bands`` chunks and take a
        pair as candidate when ANY chunk agrees: at cos 0.4
        (θ≈66°, per-bit agreement p≈0.63 for Gaussian planes) the
        full-signature probability p^16 is ~0.06 %, while 8 two-bit
        bands give 1-(1-p²)^8 ≈ 98 % (measured on the sf0.01 corpus: recall 0.000 → 0.542 → 1.000
        for bands 1 → 4 → 8 at nbits=16, tests/test_recall.py).  The cost is wider buckets —
        n²/2^(nbits/bands) verifications per band — so at corpus scale
        raise ``nbits`` together with ``bands`` to keep the chunk width
        (and bucket count) constant."""
        if not 1 <= bands <= self.nbits:
            raise ValueError(f"bands={bands} must be in [1, {self.nbits}]")
        sig = persisted(
            self.add_signatures(df.select(id_col, vec_col), vec_col),
            "signatures",
        )
        width = self.nbits // bands
        mask = (1 << width) - 1
        banded = sig.select(
            F.col(id_col),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("band"),
                            F.shiftrightunsigned(
                                F.col("sign_bits"), i * width
                            )
                            .bitwiseAND(F.lit(mask))
                            .alias("chunk"),
                        )
                        for i in range(bands)
                    ]
                )
            ).alias("bc"),
        ).select(
            id_col,
            F.col("bc.band").alias("band"),
            F.col("bc.chunk").alias("chunk"),
        )
        a, b = banded.alias("a"), banded.alias("b")
        candidates = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.chunk") == F.col("b.chunk"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
            )
            .distinct()
        )
        va = sig.select(
            F.col(id_col).alias("id_a"), F.col(vec_col).alias("_vec_a")
        )
        vb = sig.select(
            F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vec_b")
        )
        return (
            candidates.join(va, "id_a")
            .join(vb, "id_b")
            .select(
                "id_a",
                "id_b",
                F.round(
                    cosine(F.col("_vec_a"), F.col("_vec_b")), 6
                ).alias("cos_sim"),
            )
            .filter(F.col("cos_sim") >= threshold)
        )


def int_srp_topk_sql(
    dim: int,
    nbits: int = 16,
    seed: int = 42,
    query_id: int = 0,
    k: int = 10,
    max_hamming: int = 2,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of ``IntSRPLSH(...).topk`` — relational replay of the
    md5 plane table, the exact integer sign bits, the Hamming ≤ h
    prefilter, and ann1's cosine re-rank (desc, id-asc ties, LIMIT k)."""
    return (
        f"WITH planes AS (SELECT b, j, "
        f"CAST(CAST('0x' || substr(md5('srp:{seed}:' || b || ':' || j), "
        "1, 6) AS UBIGINT) AS BIGINT) - 8388608 AS c "
        f"FROM range(0, {nbits}) t(b), range(0, {dim}) u(j)), "
        f"mx AS (SELECT {id_col}, CAST(i AS BIGINT) AS j, "
        f"CAST(FLOOR(CAST({vec_col}[i + 1] AS DOUBLE) * 1000000) AS BIGINT) "
        f"AS m FROM {table}, UNNEST(range(0, len({vec_col}))) u(i)), "
        "dots AS (SELECT mx.{id}, p.b, SUM(p.c * mx.m) AS s "
        "FROM mx JOIN planes p ON p.j = mx.j GROUP BY mx.{id}, p.b), "
        "sig AS (SELECT {id}, CAST(SUM(CASE WHEN s > 0 THEN "
        "(CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS sign_bits "
        "FROM dots GROUP BY {id}), "
        "qsig AS (SELECT sign_bits AS q FROM sig "
        f"WHERE {id_col} = {query_id}), "
        "cand AS (SELECT sig.{id} FROM sig, qsig "
        f"WHERE bit_count(xor(sign_bits, q)) <= {max_hamming}) "
        f"SELECT e.{id_col}, ROUND(list_cosine_similarity("
        f"CAST(e.{vec_col} AS DOUBLE[]), "
        f"(SELECT CAST({vec_col} AS DOUBLE[]) FROM {table} "
        f"WHERE {id_col} = {query_id})), 6) AS cos_sim "
        f"FROM {table} e JOIN cand ON cand.{id_col} = e.{id_col} "
        f"ORDER BY cos_sim DESC, e.{id_col} LIMIT {k}"
    ).replace("{id}", id_col)


def label_centroids(
    df: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Per-label centroid of an embedding column, as one row per
    ``(label, dim)`` with the mean component in integer micros.

    The mean is computed as ``floor(sum(floor(x·1e6)) / n)``: components
    are floor-scaled to integer micros BEFORE the sum, because a float
    sum's value depends on partition accumulation order while an integer
    sum does not — the same determinism discipline as
    ``curation.bigram_likelihood``.  Long-form (label, dim) output keeps
    the aggregation a plain partial-aggregated groupBy (no array
    re-assembly, no collect) and gives the DuckDB oracle a flat relation
    to hash.

    Scale: one ``posexplode`` (×dim row inflation of an (label, x) pair —
    16 bytes each, not the document payload) into a groupBy keyed on
    (label, dim); both stages partial-aggregate map-side.  This is the
    building block for IVF-style re-centering and per-class embedding
    drift monitoring.
    """
    ex = df.select(
        F.col(label_col), F.posexplode(F.col(vec_col)).alias("dim", "x")
    )
    return ex.groupBy(label_col, "dim").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.floor(
            F.sum(F.floor(F.col("x").cast("double") * F.lit(1000000)))
            / F.count(F.lit(1))
        )
        .cast("long")
        .alias("mean_micro"),
    )


#: DuckDB twin of :func:`label_centroids` over ``embeddings`` — identical
#: floor-scaled integer intermediates; ``dim`` cast to INT to match
#: Spark's ``posexplode`` position type.
CENTROID_SQL = (
    "WITH ex AS (SELECT label, CAST(i AS INT) AS dim, "
    "CAST(embedding[i + 1] AS DOUBLE) AS x "
    "FROM embeddings, UNNEST(range(0, len(embedding))) u(i)) "
    "SELECT label, dim, CAST(COUNT(*) AS BIGINT) AS n_vecs, "
    "CAST(FLOOR(SUM(CAST(FLOOR(x * 1000000) AS BIGINT)) / COUNT(*)) "
    "AS BIGINT) AS mean_micro FROM ex GROUP BY 1, 2"
)


def centroid_similarity(
    df: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Pairwise cosine similarity between per-label centroids — the
    cross-class embedding-drift diagnostic (labels whose centroids drift
    together are candidates for merging; a centroid drifting toward
    another's flags label noise).

    Built on :func:`label_centroids`' INTEGER micro centroids, so the
    dot products are exact BIGINT sums (order-independent); only the
    final norm/divide touches floats, with one sqrt (IEEE correctly
    rounded) and one division per pair, identically associated in the
    SQL twin.  Output is one row per unordered label pair
    (label_a < label_b) with ``cos_sim`` rounded to 6 places.

    Scale: the centroid table is |labels|·dim rows — tiny regardless of
    corpus size; the self-join on dim and the pair groupBy never touch
    the vectors table again.
    """
    cent = label_centroids(df, label_col, vec_col).select(
        F.col(label_col).alias("_lbl"), "dim", "mean_micro"
    )
    a, b = cent.alias("a"), cent.alias("b")
    prods = a.join(
        b,
        (F.col("a.dim") == F.col("b.dim"))
        & (F.col("a._lbl") < F.col("b._lbl")),
    ).select(
        F.col("a._lbl").alias("label_a"),
        F.col("b._lbl").alias("label_b"),
        (F.col("a.mean_micro") * F.col("b.mean_micro")).alias("_ab"),
        (F.col("a.mean_micro") * F.col("a.mean_micro")).alias("_aa"),
        (F.col("b.mean_micro") * F.col("b.mean_micro")).alias("_bb"),
    )
    return prods.groupBy("label_a", "label_b").agg(
        F.round(
            F.sum("_ab")
            / (F.sqrt(F.sum("_aa")) * F.sqrt(F.sum("_bb"))),
            6,
        ).alias("cos_sim")
    )


#: DuckDB twin of :func:`centroid_similarity` over ``embeddings`` —
#: chains :data:`CENTROID_SQL` and mirrors the float association
#: (sum / (sqrt * sqrt), then round).
CENTROID_SIM_SQL = (
    "WITH cent AS (" + CENTROID_SQL + ") "
    "SELECT a.label AS label_a, b.label AS label_b, "
    "ROUND(SUM(a.mean_micro * b.mean_micro) / "
    "(SQRT(SUM(a.mean_micro * a.mean_micro)) * "
    "SQRT(SUM(b.mean_micro * b.mean_micro))), 6) AS cos_sim "
    "FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label "
    "GROUP BY 1, 2"
)


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    levels: int = 127,
) -> DataFrame:
    """Symmetric per-vector integer quantization of an embedding column —
    the 4× memory-reduction pass a 100 TB ANN corpus applies before
    indexing (int8 codes + one float scale per vector; dot products run
    on the codes and rescale once).

    ``code_i = floor(x_i / maxabs · levels)`` with ``maxabs = max|x_i|``;
    ``floor`` (not round) because IEEE floor is exact in every engine
    while round's half-way rule differs between engines, and the
    division/multiplication are single IEEE double ops both engines
    perform identically — so the codes carry a value-level DuckDB
    oracle.  Codes lie in [-levels, levels] (x = -maxabs gives exactly
    -levels; x = +maxabs gives +levels).  The all-zero vector (maxabs =
    0) quantizes to all-zero codes rather than NaN.

    Returns ``(id, scale_micro, codes)``: ``scale_micro`` =
    ``floor(maxabs·1e6)`` (integer, so the hash-compare never touches a
    raw float), ``codes`` = ``array<long>``.  Dequantization is
    ``code · maxabs / levels``, with per-component error bounded by the
    quantization step ``maxabs / levels`` (pinned by test).

    Zero shuffle: two stacked projections — array expressions only.
    ``maxabs`` is STAGED into its own projection so the per-element
    code lambda divides by a cheap attribute: Catalyst does not
    common-subexpression-eliminate across HOF lambda bodies, so the
    single-projection form re-evaluated the O(d) ``array_max`` once
    PER ELEMENT — O(d²) per vector (the winnowing-kernel trap; same
    IEEE ops in the same association, so values are unchanged and the
    DuckDB twin still matches bit-for-bit).
    """
    staged = df.select(
        F.col(id_col),
        F.col(vec_col).alias("_x"),
        _maxabs_col(F.col(vec_col)).alias("_m"),
    )
    return staged.select(
        F.col(id_col),
        F.floor(F.col("_m") * F.lit(1000000.0))
        .cast("long")
        .alias("scale_micro"),
        _codes_col(F.col("_x"), F.col("_m"), levels).alias("codes"),
    )


def _maxabs_col(x) -> Column:
    """``max|x_i|`` of an embedding array column."""
    return F.array_max(F.transform(x, lambda v: F.abs(v.cast("double"))))


def _codes_col(x, maxabs, levels: int) -> Column:
    """Quantized code array given a STAGED ``maxabs`` attribute — pass a
    projected column, not a computed expression: ``maxabs`` sits inside
    the per-element lambda, where Catalyst re-evaluates non-attribute
    expressions once per element (see :func:`quantize_embeddings`)."""
    return F.when(
        maxabs > 0,
        F.transform(
            x,
            lambda v: F.floor(
                v.cast("double") / maxabs * F.lit(float(levels))
            ).cast("long"),
        ),
    ).otherwise(F.transform(x, lambda v: F.lit(0).cast("long")))


def _with_quant_codes(df: DataFrame, vec_col: str, levels: int) -> DataFrame:
    """``df`` plus a ``codes`` column, ``maxabs`` staged first (see
    :func:`quantize_embeddings`)."""
    return (
        df.withColumn("_qmax", _maxabs_col(F.col(vec_col)))
        .withColumn(
            "codes", _codes_col(F.col(vec_col), F.col("_qmax"), levels)
        )
        .drop("_qmax")
    )


def quantize_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    levels: int = 127,
) -> str:
    """DuckDB twin of :func:`quantize_embeddings` — identical IEEE
    double ops (abs/max/divide/multiply/floor) in the same association."""
    return (
        f"SELECT {id_col}, "
        f"CAST(FLOOR(list_max(list_transform({vec_col}, "
        "v -> abs(CAST(v AS DOUBLE)))) * 1000000.0) AS BIGINT) "
        "AS scale_micro, "
        "CASE WHEN list_max(list_transform("
        f"{vec_col}, v -> abs(CAST(v AS DOUBLE)))) > 0 "
        f"THEN list_transform({vec_col}, v -> CAST(FLOOR("
        "CAST(v AS DOUBLE) / list_max(list_transform("
        f"{vec_col}, u -> abs(CAST(u AS DOUBLE)))) * {levels}.0) AS BIGINT)) "
        f"ELSE list_transform({vec_col}, v -> CAST(0 AS BIGINT)) END "
        f"AS codes FROM {table}"
    )


def quantize_embeddings_long(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    levels: int = 127,
) -> DataFrame:
    """Long-form (one row per component) view of
    :func:`quantize_embeddings`: ``(id, scale_micro, dim, code)``.

    Same quantization, reshaped via ``posexplode`` so every output
    column is a scalar — the shape a hash-comparing harness (or any
    sort-based canonicalizer) can consume; pandas cannot sort an
    ``array<long>`` column.  The array-returning form stays the library
    API (``topk_quantized`` consumes it wholesale); this is the
    contract/export shape.  ``dim`` is ``posexplode``'s int32 position.

    Scale: the explode inflates rows ×dim but each row is four scalars
    (≤ 28 bytes) — narrower than the array form it replaces, still zero
    shuffle.
    """
    q = quantize_embeddings(df, id_col=id_col, vec_col=vec_col, levels=levels)
    return q.select(
        F.col(id_col),
        F.col("scale_micro"),
        F.posexplode("codes").alias("dim", "code"),
    )


def quantize_long_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    levels: int = 127,
) -> str:
    """DuckDB twin of :func:`quantize_embeddings_long` — chains the
    array-form twin and unnests with an explicit position, ``dim`` cast
    to INT to match Spark's ``posexplode`` position type."""
    return (
        f"WITH q AS ({quantize_sql(table, id_col, vec_col, levels)}) "
        f"SELECT {id_col}, scale_micro, CAST(i AS INT) AS dim, "
        "codes[i + 1] AS code "
        "FROM q, UNNEST(range(0, len(codes))) u(i)"
    )


def dimension_stats(
    df: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Per-dimension mean/variance of the embedding corpus in integer
    micros — the signal that decides WHICH dimensions a truncation tier
    (ann11) or a PQ subspace split should keep: near-zero-variance
    dimensions carry no ranking information and are free to drop.

    Components are floor-scaled to integer micros BEFORE aggregation
    (the ``label_centroids`` discipline), so the sums S and Q are exact
    integers accumulated as ``decimal(38,0)`` — each term ``m·m`` fits
    int64 (|m| ≤ ~1e6 ⇒ m² ≤ ~1e12) but the SUM would overflow int64
    past ~9M vectors per dimension, so the accumulator is 128-bit on
    both engines (decimal(38,0) here, DuckDB's native HUGEINT in the
    twin).  The final ``mean_micro = floor(S/n)`` and ``var_micro2 =
    floor(Q/n − (S/n)²)`` cast the exact sums to double and divide with
    one fixed IEEE association the SQL twin mirrors (exact-int→double
    is round-to-nearest in both engines, so the twins cannot drift).
    Plan: one posexplode + one partial-aggregated groupBy on the
    dimension index.
    """
    ex = df.select(F.posexplode(F.col(vec_col)).alias("dim", "x")).select(
        F.col("dim"),
        F.floor(F.col("x").cast("double") * F.lit(1000000)).cast("long").alias("m"),
    )
    agg = ex.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum(F.col("m").cast("decimal(38,0)")).alias("_s"),
        F.sum((F.col("m") * F.col("m")).cast("decimal(38,0)")).alias("_q"),
    )
    s_over_n = F.col("_s").cast("double") / F.col("n_vecs").cast("double")
    q_over_n = F.col("_q").cast("double") / F.col("n_vecs").cast("double")
    return agg.select(
        "dim",
        "n_vecs",
        F.floor(s_over_n).cast("long").alias("mean_micro"),
        F.floor(q_over_n - s_over_n * s_over_n)
        .cast("long")
        .alias("var_micro2"),
    )


#: DuckDB twin of :func:`dimension_stats` — identical floor-scaled
#: integer sums and divide-first IEEE association.
DIMENSION_STATS_SQL = (
    "WITH ex AS (SELECT CAST(i AS INT) AS dim, "
    "CAST(FLOOR(CAST(embedding[i + 1] AS DOUBLE) * 1000000) AS BIGINT) "
    "AS m FROM embeddings, UNNEST(range(0, len(embedding))) u(i)), "
    "agg AS (SELECT dim, CAST(COUNT(*) AS BIGINT) AS n_vecs, "
    "SUM(m) AS s, SUM(m * m) AS q "  # HUGEINT accumulators — see above
    "FROM ex GROUP BY 1) "
    "SELECT dim, n_vecs, "
    "CAST(FLOOR(CAST(s AS DOUBLE) / CAST(n_vecs AS DOUBLE)) AS BIGINT) "
    "AS mean_micro, "
    "CAST(FLOOR(CAST(q AS DOUBLE) / CAST(n_vecs AS DOUBLE) - "
    "(CAST(s AS DOUBLE) / CAST(n_vecs AS DOUBLE)) * "
    "(CAST(s AS DOUBLE) / CAST(n_vecs AS DOUBLE))) AS BIGINT) "
    "AS var_micro2 FROM agg"
)


def topk_quantized(
    df: DataFrame,
    query: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    levels: int = 127,
) -> DataFrame:
    """Top-k by cosine over the int8-QUANTIZED representation — the
    search tier that pairs with :func:`quantize_embeddings`: at corpus
    scale the codes table (4× smaller, integer SIMD dot products) is
    what actually gets scanned, and this operator defines exactly what
    that scan computes.

    ``quant_sim = round(dot(c, cq) / (√Σc² · √Σcq²), 6)`` where ``c``
    are the corpus codes and ``cq`` the identically-quantized query.
    The dot product and both squared norms are exact BIGINT sums; the
    only float ops are two IEEE sqrts, one multiply, one divide, one
    round — identical in any engine, so the whole ranking carries a
    value-level DuckDB oracle (same discipline as
    ``centroid_similarity``).  Ties break on id; the all-zero query or
    code vector scores 0 (no NaN).  Accuracy vs the float ranking is a
    measured number (tests/test_recall.py): recall@10 = 1.0 on the
    sf0.01 corpus — int8 is enough resolution for top-k separation.

    Plan: zero-shuffle projection + TakeOrderedAndProject (k rows per
    partition move, never the codes).
    """
    q = np.asarray(list(map(float, query)), dtype=np.float64)
    maxabs = float(np.max(np.abs(q))) if len(q) else 0.0
    qc = (
        [int(np.floor(v / maxabs * levels)) for v in q]
        if maxabs > 0
        else [0] * len(q)
    )
    nq = sum(c * c for c in qc)
    quant = quantize_embeddings(df, id_col, vec_col, levels)
    codes = F.col("codes")
    dot = F.aggregate(
        F.zip_with(
            codes,
            F.array(*[F.lit(c).cast("long") for c in qc]),
            lambda a, b: a * b,
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    na = F.aggregate(
        F.transform(codes, lambda a: a * a),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    denom = F.sqrt(na.cast("double")) * F.sqrt(F.lit(float(nq)))
    sim = F.when(
        denom > 0, F.round(dot.cast("double") / denom, 6)
    ).otherwise(F.lit(0.0))
    return (
        quant.select(F.col(id_col), sim.alias("quant_sim"))
        .orderBy(F.col("quant_sim").desc(), F.col(id_col))
        .limit(int(k))
    )


def topk_quantized_sql(
    query_id: int = 0,
    k: int = 10,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    levels: int = 127,
) -> str:
    """DuckDB twin of :func:`topk_quantized` — quantizes the corpus AND
    the query row (``id = query_id``) with :func:`quantize_sql`'s
    arithmetic, then the identical integer dot product / sqrt-norm
    ranking.  Deriving the query codes in SQL (rather than inlining a
    Python-quantized list) keeps the oracle self-contained; the two
    quantizations are bit-identical because every op is the same IEEE
    double op on the same doubles."""
    return (
        "WITH quant AS ("
        + quantize_sql(table, id_col, vec_col, levels)
        + "), "
        f"qq AS (SELECT codes AS qc FROM quant WHERE {id_col} = {query_id}), "
        # DuckDB forbids subqueries inside lambda/comprehension bodies —
        # cross-join the one-row query table so qc is a plain column.
        f"scored AS (SELECT {id_col}, "
        "list_sum([codes[i] * qc[i] "
        "for i in range(1, len(codes) + 1)]) AS dot, "
        "list_sum([codes[i] * codes[i] "
        "for i in range(1, len(codes) + 1)]) AS na, "
        "list_sum([qc[i] * qc[i] for i in range(1, len(qc) + 1)]) "
        "AS nq FROM quant, qq) "
        f"SELECT {id_col}, CASE WHEN sqrt(CAST(na AS DOUBLE)) * "
        "sqrt(CAST(nq AS DOUBLE)) > 0 "
        "THEN ROUND(CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * "
        "sqrt(CAST(nq AS DOUBLE))), 6) ELSE 0.0 END AS quant_sim "
        f"FROM scored ORDER BY quant_sim DESC, {id_col} LIMIT {int(k)}"
    )


def knn_graph(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    levels: int = 127,
    block_size: int = 1024,
    n_blocks: int | None = None,
    sel_margin: int = 8,
) -> DataFrame:
    """Exact k-nearest-neighbor GRAPH over the int8-quantized cosine —
    one directed edge per (vector, neighbor-rank) plus a ``mutual``
    flag.  The k-NN graph is the substrate of graph-based curation
    (SemDeDup-style cluster pruning, label propagation, kNN-classifier
    evals, NN-descent seeding); this operator materializes it with the
    repo's exact-integer discipline so it carries a value-level DuckDB
    oracle (:func:`knn_graph_sql`).

    Similarity is :func:`topk_quantized`'s arithmetic — exact BIGINT
    code dot products and squared norms, two IEEE sqrts, one divide,
    ``round(·, 6)`` — with final ordering ``(quant_sim DESC, dst ASC)``
    per source.  Zero-norm vectors score 0 against everything.  Edges
    are DIRECTED (src's top-k); ``mutual`` marks edges whose reverse is
    also a top-k edge — the mutual-kNN filter graph-clustering wants.

    Execution is the blocked-matmul shape of
    :func:`embedding_neardup_exact`: id-hash blocks, each unordered
    block-pair computes ONE int64 numpy matmul inside
    ``applyInPandas``, and each pair emits only its LOCAL top
    ``k + sel_margin`` candidates per source as exact integer
    ``(dot, na, nb)`` rows — the float similarity and the rank are
    computed JVM-side from those integers, so no numpy float rounding
    ever reaches the output (the ann4/eval4 half-to-even caveat does
    not apply).  Local selection is PROVABLY a superset of anything
    the global ``(round(sim, 6) DESC, dst ASC)`` window can rank in
    the top ``k``: a block-pair keeps every candidate whose raw
    double similarity is within ``2e-6`` of its k-th best — since
    ``round(·, 6)`` is monotone and moves a value by at most
    ``5e-7``, any candidate more than ``1e-6`` below k raw
    candidates is strictly below k candidates post-round too, so
    dropping it can never change the global top-k (this closed the
    round-11 advisory's raw-vs-rounded near-tie gap; ``sel_margin``
    remains as a keep-count floor).  Global per-source top-k is one
    bounded-candidate window, and the mutual flag one
    self-join of the k·n edge list.  Same fail-fast ceiling as the
    exact near-dup tier (``_EXACT_MAX_ROWS``): at corpus
    scale, run this per IVF cell (:class:`~nlp_to_nosql_spark.
    operators.ivf.IVFIndex` partitions, then exact graph within cells)
    instead of globally.
    """
    import pandas as pd

    if k < 1:
        raise ValueError("knn_graph: k must be >= 1")
    ceiling = _EXACT_MAX_ROWS
    quant = quantize_embeddings(df, id_col, vec_col, levels).select(
        id_col, "codes"
    )
    if n_blocks is None:
        quant = persisted(quant, "vectors")
        n = quant.count()
        if n > ceiling:
            quant.unpersist()
            raise ValueError(
                f"knn_graph: input has more than {ceiling} rows (saw {n}); "
                "the exact all-pairs tier is O(n²). Build the graph per "
                "IVF cell (operators/ivf.py)."
            )
        n_blocks = max(1, -(-n // block_size))
    else:
        probe = quant.limit(ceiling + 1).count()
        if probe > ceiling:
            raise ValueError(
                f"knn_graph: input exceeds {ceiling} rows; build the graph "
                "per IVF cell (operators/ivf.py)"
            )

    blocks = fan_out(quant).withColumn(
        "blk", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int")
    )
    replicated = blocks.select(
        id_col,
        "codes",
        "blk",
        F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("other"),
    ).select(
        id_col,
        "codes",
        "blk",
        F.least("blk", "other").alias("pa"),
        F.greatest("blk", "other").alias("pb"),
    )

    cands = replicated.groupBy("pa", "pb").applyInPandas(
        _knn_compare_fn(id_col, k, int(k + sel_margin)),
        "src long, dst long, dot long, na long, nb long",
    )
    return _knn_rank_edges(cands, k)


def _knn_local_topm(k: int, m: int):
    """Per-block-pair local top-m selection kernel shared by
    :func:`knn_graph` and :func:`knn_graph_celled` — selection only;
    final ordering recomputes JVM-side from the exact ints."""

    def _local_topm(ids_src, ids_dst, dots, na, nb, out):
        with np.errstate(divide="ignore", invalid="ignore"):
            sims = dots / (np.sqrt(na)[:, None] * np.sqrt(nb)[None, :])
        sims[~np.isfinite(sims)] = 0.0
        for i in range(len(ids_src)):
            row = sims[i]
            mask = ids_dst != ids_src[i]
            cand = np.nonzero(mask)[0]
            if len(cand) > m:
                # order by (sim desc, dst asc), then keep the top-m PLUS
                # everything within 2e-6 of the k-th raw sim — round(·,6)
                # shifts a double by ≤ 5e-7, so a candidate > 1e-6 below
                # k others can never post-round into the global top-k
                # (see knn_graph docstring); the slack set is the
                # provable superset
                order = np.lexsort((ids_dst[cand], -row[cand]))
                cand = cand[order]
                kth = row[cand[k - 1]]
                n_keep = max(m, int((row[cand] >= kth - 2e-6).sum()))
                cand = cand[:n_keep]
            for j in cand:
                out.append(
                    (
                        int(ids_src[i]),
                        int(ids_dst[j]),
                        int(dots[i, j]),
                        int(na[i]),
                        int(nb[j]),
                    )
                )

    return _local_topm


def _knn_compare_fn(id_col: str, k: int, m: int):
    """The blocked-matmul ``applyInPandas`` kernel shared by
    :func:`knn_graph` (key = (pa, pb)) and :func:`knn_graph_celled`
    (key = (cell, pa, pb) — only the LAST TWO key fields are read, so
    the same kernel serves both groupings)."""
    import pandas as pd

    local_topm = _knn_local_topm(k, m)

    def compare(key, pdf):
        pa, pb = key[-2], key[-1]
        ids = pdf[id_col].to_numpy()
        x = np.asarray(pdf["codes"].tolist(), dtype=np.int64)
        norms2 = (x * x).sum(axis=1)
        in_a = (pdf["blk"] == pa).to_numpy()
        out: list = []
        if pa == pb:
            dots = x @ x.T
            local_topm(ids, ids, dots, norms2, norms2, out)
        else:
            xa, xb = x[in_a], x[~in_a]
            ia, ib = ids[in_a], ids[~in_a]
            na2, nb2 = norms2[in_a], norms2[~in_a]
            dots = xa @ xb.T
            local_topm(ia, ib, dots, na2, nb2, out)
            local_topm(ib, ia, dots.T, nb2, na2, out)
        return pd.DataFrame(
            out, columns=["src", "dst", "dot", "na", "nb"]
        ).astype("int64")

    return compare


def _knn_rank_edges(cands: DataFrame, k: int) -> DataFrame:
    """JVM-side tail shared by the graph builders: exact-int →
    round-6 similarity, per-src (quant_sim DESC, dst ASC) top-k, and
    the mutual self-join."""
    denom = F.sqrt(F.col("na").cast("double")) * F.sqrt(
        F.col("nb").cast("double")
    )
    sim = F.when(
        denom > 0, F.round(F.col("dot").cast("double") / denom, 6)
    ).otherwise(F.lit(0.0))
    w = Window.partitionBy("src").orderBy(
        F.col("quant_sim").desc(), F.col("dst").asc()
    )
    edges = persisted(
        cands.select("src", "dst", sim.alias("quant_sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "src", "dst", F.col("rank").cast("int").alias("rank"), "quant_sim"
        ),
        "edges",
    )
    rev = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"),
        F.lit(True).alias("mutual"),
    )
    return edges.join(rev, ["src", "dst"], "left").select(
        "src",
        "dst",
        "rank",
        "quant_sim",
        F.coalesce("mutual", F.lit(False)).alias("mutual"),
    )


def knn_graph_sql(
    k: int = 5,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    levels: int = 127,
) -> str:
    """DuckDB twin of :func:`knn_graph` — full all-pairs quantized
    cosine (the oracle can afford O(n²) at check scale), identical
    ``(quant_sim DESC, dst ASC)`` ranking, identical mutual self-join."""
    return (
        "WITH quant AS ("
        + quantize_sql(table, id_col, vec_col, levels)
        + "), "
        "nrm AS (SELECT "
        f"{id_col} AS vid, codes, "
        "list_sum([codes[i] * codes[i] for i in range(1, len(codes) + 1)]) "
        "AS n2 FROM quant), "
        "scored AS (SELECT a.vid AS src, b.vid AS dst, "
        "CASE WHEN sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)) > 0 "
        "THEN ROUND(CAST(list_sum([a.codes[i] * b.codes[i] "
        "for i in range(1, len(a.codes) + 1)]) AS DOUBLE) / "
        "(sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))), 6) "
        "ELSE 0.0 END AS quant_sim "
        "FROM nrm a JOIN nrm b ON a.vid <> b.vid), "
        "ranked AS (SELECT src, dst, quant_sim, "
        "ROW_NUMBER() OVER (PARTITION BY src "
        "ORDER BY quant_sim DESC, dst ASC) AS rnk FROM scored), "
        f"knn AS (SELECT * FROM ranked WHERE rnk <= {int(k)}) "
        "SELECT e.src, e.dst, CAST(e.rnk AS INT) AS rank, e.quant_sim, "
        "r.src IS NOT NULL AS mutual "
        "FROM knn e LEFT JOIN knn r ON e.src = r.dst AND e.dst = r.src"
    )


#: Default rows-per-cell target for ``knn_graph_celled(n_cells="auto")``:
#: auto resolves ``max(8, ceil(count / target_cell_rows))``, so per-cell
#: exact pair work is bounded by ~``target_cell_rows²`` regardless of
#: corpus size — the bounded-cell scale contract as CODE rather than a
#: caller knob (constant ``n_cells`` measured 56× wall at 100× data,
#: PERFORMANCE.md round 13).
_AUTO_TARGET_CELL_ROWS = 512


def resolve_n_cells(
    n_cells: "int | str",
    count: int,
    target_cell_rows: int = _AUTO_TARGET_CELL_ROWS,
) -> int:
    """Resolve the ``n_cells="auto"`` contract deterministically from a
    corpus row count: ``max(8, ceil(count / target_cell_rows))``.  Kept
    as a pure int function so the DuckDB twin (which derives the same
    value via a scalar-subquery ``LIMIT``) and tests can replay it."""
    if n_cells == "auto":
        if target_cell_rows < 1:
            raise ValueError(
                "knn_graph_celled: target_cell_rows must be >= 1"
            )
        return max(8, -(-int(count) // int(target_cell_rows)))
    return int(n_cells)


def knn_graph_celled(
    df: DataFrame,
    n_cells: "int | str" = 8,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    levels: int = 127,
    iters: int = 2,
    seed: int = 7,
    sample_mod: int = 4,
    sample_keep: int = 2,
    block_size: int = 1024,
    sel_margin: int = 8,
    target_cell_rows: int = _AUTO_TARGET_CELL_ROWS,
) -> DataFrame:
    """The 100 TB composition :func:`knn_graph`'s fail-fast message
    points at, as a first-class oracle-checked operator: partition the
    corpus into IVF coarse cells, build the exact k-NN graph WITHIN
    each cell, and union — edges never cross cells, so the pair work
    drops from O(n²) to Σ|cell|² (n²/c for c balanced cells) and every
    block-pair matmul stays executor-local to its cell.

    Cells come from :func:`~nlp_to_nosql_spark.operators.semdedup.
    micro_kmeans_fit` + ``assign_cells`` — the ORACLE-REPLAYABLE
    sampled Lloyd's in the integer-micro domain (seeded md5 training
    sample, hash-spread init, exact int64 squared-L2 argmin, BIGINT
    floor-division means), NOT ``IVFIndex.fit``'s float means (a float
    ``avg`` is partition-order-dependent, so a graph keyed on those
    cells could never carry a value-level oracle).  The per-cell graph
    is :func:`knn_graph`'s exact machinery verbatim (shared kernels:
    blocked int64 matmuls emit exact ``(dot, na, nb)``; similarity,
    ranking, and the mutual flag recompute JVM-side), just grouped by
    ``(cell, pa, pb)`` instead of ``(pa, pb)``.

    Returns ``(src, dst, cell, rank, quant_sim, mutual)`` — ``rank``
    orders within the src's cell; ``mutual`` is within-cell by
    construction (both endpoints of any edge share a cell).  This is
    an ANN graph: a true neighbor assigned to a different coarse cell
    is unreachable (the standard IVF recall trade — lower ``n_cells``
    for bigger cells and higher recall, or run :func:`knn_graph` for
    exactness).

    Scale: the fit is sample-sized; assignment one zero-shuffle scan;
    the ceiling (``_EXACT_MAX_ROWS``) applies PER CELL —
    the operator measures cell sizes (≤ ``n_cells`` driver rows) and
    fail-fasts if the LARGEST cell exceeds it, pointing at a larger
    ``n_cells``.  ``n_cells="auto"`` (the production mode) CODIFIES
    the bounded-cell contract instead of leaving it to the caller:
    one exact ``COUNT`` job resolves
    ``max(8, ceil(count / target_cell_rows))`` via
    :func:`resolve_n_cells`, so per-cell pair work stays ~
    ``target_cell_rows²`` at any corpus size (constant ``n_cells``
    measured 56× wall at 100× data; auto re-measured ~linear —
    PERFORMANCE.md round 14).  The count is exact rather than an HLL
    estimate so the DuckDB twin (scalar-subquery ``LIMIT`` over the
    same ``COUNT(*)``) resolves the identical cell count and the auto
    mode stays value-oracled at every SF.  DuckDB twin:
    :func:`knn_graph_celled_sql`.
    """
    from nlp_to_nosql_spark.operators.semdedup import (
        assign_cells,
        micro_kmeans_fit,
    )

    if k < 1:
        raise ValueError("knn_graph_celled: k must be >= 1")
    if n_cells == "auto":
        # one count-only job (column-pruned scan; parquet answers it
        # from footer metadata) — the function is already eager (the
        # per-cell size collect below), so this adds a metadata job,
        # not a new materialization of the corpus
        n_cells = resolve_n_cells(
            "auto", df.select(id_col).count(), target_cell_rows
        )
    else:
        n_cells = int(n_cells)
    cents = micro_kmeans_fit(
        df,
        n_clusters=n_cells,
        iters=iters,
        seed=seed,
        sample_mod=sample_mod,
        sample_keep=sample_keep,
        id_col=id_col,
        vec_col=vec_col,
    )
    assigned = assign_cells(df, cents, id_col=id_col, vec_col=vec_col)
    # quantize ON the assigned frame (one scan, no self-join): the
    # quantization is a pure projection over vec_col, so it composes
    # with the assignment UDF in the same stage
    quant = persisted(
        _with_quant_codes(assigned, vec_col, levels).select(
            id_col, "codes", "cluster_id"
        ),
        "vectors",
    )
    sizes = {
        int(r["cluster_id"]): int(r["n"])
        for r in quant.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    biggest = max(sizes.values(), default=0)
    if biggest > _EXACT_MAX_ROWS:
        quant.unpersist()
        raise ValueError(
            f"knn_graph_celled: largest cell has {biggest} rows "
            f"(> {_EXACT_MAX_ROWS}); raise n_cells so per-cell pair work "
            "stays bounded"
        )
    n_blocks = max(1, -(-biggest // block_size))
    blocks = fan_out(quant).withColumn(
        "blk", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int")
    )
    replicated = blocks.select(
        id_col,
        "codes",
        "cluster_id",
        "blk",
        F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("other"),
    ).select(
        id_col,
        "codes",
        "cluster_id",
        "blk",
        F.least("blk", "other").alias("pa"),
        F.greatest("blk", "other").alias("pb"),
    )
    cands = replicated.groupBy("cluster_id", "pa", "pb").applyInPandas(
        _knn_compare_fn(id_col, k, int(k + sel_margin)),
        "src long, dst long, dot long, na long, nb long",
    )
    edges = _knn_rank_edges(cands, k)
    return edges.join(
        quant.select(F.col(id_col).alias("src"),
                     F.col("cluster_id").alias("cell")),
        "src",
    ).select("src", "dst", "cell", "rank", "quant_sim", "mutual")


def knn_graph_celled_sql(
    n_cells: "int | str" = 8,
    k: int = 5,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    levels: int = 127,
    iters: int = 2,
    seed: int = 7,
    sample_mod: int = 4,
    sample_keep: int = 2,
    dim: int = 64,
    target_cell_rows: int = _AUTO_TARGET_CELL_ROWS,
) -> str:
    """DuckDB twin of :func:`knn_graph_celled` — semdedup's unrolled
    micro-k-means fit+assign CTEs (``_fitted_fa_parts``: identical
    seeded sample, init, integer assignment, floor-division means)
    restrict the all-pairs quantized cosine to same-cell pairs; then
    :func:`knn_graph_sql`'s ranking and mutual join.
    ``n_cells="auto"`` emits a scalar-subquery ``LIMIT`` replaying
    :func:`resolve_n_cells` over the same ``COUNT(*)``, so the static
    string stays the value twin of auto mode at every SF."""
    from nlp_to_nosql_spark.operators.semdedup import _fitted_fa_parts

    parts = _fitted_fa_parts(
        n_cells, iters, seed, sample_mod, sample_keep, dim,
        table, id_col, vec_col, target_cell_rows=target_cell_rows,
    )
    parts.append(
        "quant AS (" + quantize_sql(table, id_col, vec_col, levels) + ")"
    )
    parts.append(
        "nrm AS (SELECT "
        f"q.{id_col} AS vid, q.codes, a.cluster_id AS cell, "
        "list_sum([q.codes[i] * q.codes[i] "
        "for i in range(1, len(q.codes) + 1)]) AS n2 "
        f"FROM quant q JOIN fa a USING ({id_col}))"
    )
    parts.append(
        "scored AS (SELECT a.vid AS src, b.vid AS dst, a.cell, "
        "CASE WHEN sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)) "
        "> 0 THEN ROUND(CAST(list_sum([a.codes[i] * b.codes[i] "
        "for i in range(1, len(a.codes) + 1)]) AS DOUBLE) / "
        "(sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))), 6) "
        "ELSE 0.0 END AS quant_sim "
        "FROM nrm a JOIN nrm b ON a.vid <> b.vid AND a.cell = b.cell)"
    )
    parts.append(
        "ranked AS (SELECT src, dst, cell, quant_sim, "
        "ROW_NUMBER() OVER (PARTITION BY src "
        "ORDER BY quant_sim DESC, dst ASC) AS rnk FROM scored)"
    )
    parts.append(f"knn AS (SELECT * FROM ranked WHERE rnk <= {int(k)})")
    return (
        ", ".join(parts)
        + " SELECT e.src, e.dst, CAST(e.cell AS BIGINT) AS cell, "
        "CAST(e.rnk AS INT) AS rank, e.quant_sim, "
        "r.src IS NOT NULL AS mutual "
        "FROM knn e LEFT JOIN knn r ON e.src = r.dst AND e.dst = r.src"
    )


def hard_negative_topk(
    df: DataFrame,
    queries: Sequence[tuple[int, Sequence[float], object]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining: for each labeled query vector, the exact
    top-k most-similar corpus vectors with a DIFFERENT label — the
    highest-value negatives for contrastive/embedding training (near the
    query in embedding space yet labeled differently).

    ``queries`` is ``[(query_id, vector, label), ...]``.  Queries are
    grouped by label and each label group runs ONE
    :func:`topk_batch` pass over the corpus filtered to other labels —
    so the corpus is scanned once per DISTINCT query label (typically
    one: mining negatives for a single class), the label filter is
    pushed to the parquet scan, and everything inherits topk_batch's
    scale contract (queries broadcast with the task closure, at most
    Q·k·n_batches candidate rows shuffle, corpus rows never do).
    Output ``(query_id, id, cos_sim)``, exact by construction, ties →
    lowest id — identical ordering to :func:`topk_bruteforce`.  A query
    whose label covers the whole corpus yields no rows (no negatives
    exist); an empty ``queries`` list is rejected up front.
    """
    if not queries:
        raise ValueError("hard_negative_topk: queries must be non-empty")
    groups: dict[object, list[tuple[int, Sequence[float]]]] = {}
    for qid, vec, lbl in queries:
        groups.setdefault(lbl, []).append((qid, vec))
    parts = [
        topk_batch(
            df.filter(F.col(label_col) != F.lit(lbl)).select(
                id_col, vec_col
            ),
            qs,
            k,
            id_col,
            vec_col,
        )
        for lbl, qs in groups.items()
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
