"""Product quantization (PQ) — compressed vector codes + ADC search.

The memory tier below scalar int8 quantization
(:func:`similarity.quantize_embeddings`): split each embedding into
``m`` subvectors, map every subvector to the nearest of ``k`` per-
subspace centroids, and store only the ``m`` small codes (m=4, k=16 →
16 bits per 64-dim vector, a 128× compression).  Search runs in the
compressed domain with an Asymmetric Distance Computation (ADC) lookup
table — the IVF-PQ recipe of Jégou et al., "Product Quantization for
Nearest Neighbor Search" (TPAMI 2011).

Determinism / oracle design: every distance is computed on
**integer-micro** components (``floor(x·1e6)`` per dimension, the
``label_centroids`` discipline), so assignments and ADC distances are
exact BIGINT arithmetic both engines replay bit-for-bit.  The codebook
is a *sampled* codebook: ``k`` deterministically-chosen corpus vectors
(seeded md5 bucket of the id, min id per bucket — the IVF hash-spread
init) rather than Lloyd-iterated centroids.  Production PQ would refine
it with per-subspace k-means (``ivf.IVFIndex`` demonstrates the Lloyd
loop); the sampled codebook keeps the END-TO-END pipeline value-level
oracle-checkable, and recall vs the exact ranking is a measured number
(tests/test_pq.py).

Scale shape: the codebook is k·dim micros — a bounded driver collect
(16×64 here; the same contract as ``IVFIndex.fit``) shipped into the
encode kernel.  Encode is a ZERO-SHUFFLE ``mapInPandas`` pass (the
100 TB corpus never moves); ADC search is a zero-shuffle projection
over the codes table + ``TakeOrderedAndProject`` (k rows per partition
move, never vectors).
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nlp_to_nosql_spark.operators.dedup import md5_hash28

_MICRO = 1_000_000


def _pq_bucket(id_col: F.Column, k: int, seed: int) -> F.Column:
    """Seeded md5 bucket in [0, k) — deterministic, engine-portable."""
    return (
        md5_hash28(F.concat(F.lit(f"pq{seed}:"), id_col.cast("string"))) % k
    )


def _pq_bucket_sql(c: str, k: int, seed: int) -> str:
    return (
        f"CAST(CAST('0x' || substr(md5('pq{seed}:' || "
        f"CAST({c} AS VARCHAR)), 1, 7) AS UBIGINT) % {k} AS BIGINT)"
    )


@dataclass
class PQModel:
    """Fitted sampled codebook: ``centroids[j]`` is the full-dim
    integer-micro vector of the j-th sample (j dense over non-empty
    hash buckets in bucket order); subspace ``s`` uses dims
    ``[s*sub_dim, (s+1)*sub_dim)``."""

    m: int
    k: int
    dim: int
    seed: int
    centroids: list[list[int]]

    @property
    def sub_dim(self) -> int:
        return self.dim // self.m


def fit_pq(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 16,
    seed: int = 7,
) -> PQModel:
    """Select the sampled codebook (bounded collect: ≤ k rows × dim).

    ``min_by(vec, id)`` per hash bucket — one partially-aggregated
    groupBy over (bucket, id, vec) triples; empty buckets simply yield
    fewer centroids (codes stay dense 0..k_eff-1).
    """
    rows = (
        df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .withColumn("_b", _pq_bucket(F.col("_id"), k, seed))
        .groupBy("_b")
        .agg(F.min_by("_v", "_id").alias("_v"))
        .orderBy("_b")
        .collect()
    )
    if not rows:
        raise ValueError("cannot fit a PQ codebook on an empty corpus")
    cents = [
        [math.floor(float(x) * _MICRO) for x in r["_v"]] for r in rows
    ]
    dim = len(cents[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    return PQModel(m=m, k=k, dim=dim, seed=seed, centroids=cents)


def _micro_col(vec_col: str) -> F.Column:
    return F.transform(
        F.col(vec_col),
        lambda v: F.floor(v.cast("double") * F.lit(_MICRO)).cast("long"),
    )


def pq_encode(
    df: DataFrame,
    model: PQModel,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector: ``(id, codes array<int>)`` with ``codes[s]``
    = index of the nearest subspace-``s`` centroid by exact integer-
    micro squared distance (ties → lowest index, numpy ``argmin``).
    Zero shuffle.

    ``mapInPandas``: the m·k·d0 integer ops per row run as numpy C loops
    over Arrow batches.  Measured 4.4× faster than the interpreted-HOF
    Column form it replaced at sf0.1 (5.3 s → 1.2 s for 5 000 × 64-dim,
    m=4 k=16).
    """
    import numpy as np
    import pandas as pd

    cents = np.asarray(model.centroids, dtype=np.int64)
    m, d0 = model.m, model.sub_dim

    def encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            vm = np.floor(
                np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                * _MICRO
            ).astype(np.int64)
            codes = np.empty((len(pdf), m), dtype=np.int32)
            for s in range(m):
                vs = vm[:, s * d0 : (s + 1) * d0]
                cs = cents[:, s * d0 : (s + 1) * d0]
                dist = ((vs[:, None, :] - cs[None, :, :]) ** 2).sum(axis=2)
                codes[:, s] = dist.argmin(axis=1)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "codes": list(codes.tolist())}
            )

    return df.select(id_col, vec_col).mapInPandas(
        encode, schema=f"{id_col} long, codes array<int>"
    )


def adc_topk(
    df: DataFrame,
    model: PQModel,
    query: Sequence[float],
    k_results: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k nearest by ADC: per-subspace query→centroid distances form
    an m×k lookup table (computed driver-side on the SAME integer-micro
    arithmetic, baked in as literals); each row's approximate distance
    is ``Σ_s lut[s][codes[s]]`` — m array lookups and adds per row, no
    vector math in the scan.  Output ``(id, adc_dist)``, ascending,
    ties → lowest id."""
    qm = [math.floor(float(x) * _MICRO) for x in query]
    if len(qm) != model.dim:
        raise ValueError(f"query dim {len(qm)} != model dim {model.dim}")
    lut = _lut(model, qm)
    encoded = pq_encode(df, model, id_col, vec_col)
    dist = None
    for s in range(model.m):
        term = F.element_at(
            F.array(*[F.lit(v).cast("long") for v in lut[s]]),
            F.element_at(F.col("codes"), s + 1) + 1,
        )
        dist = term if dist is None else dist + term
    return (
        encoded.select(F.col(id_col), dist.alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
        .limit(int(k_results))
    )


def _lut(model: PQModel, qm: Sequence[int]) -> list[list[int]]:
    """m×k ADC lookup table: exact integer-micro squared distance of the
    query's subvectors to every centroid's."""
    d0 = model.sub_dim
    return [
        [
            sum(
                (qm[s * d0 + i] - cent[s * d0 + i]) ** 2
                for i in range(d0)
            )
            for cent in model.centroids
        ]
        for s in range(model.m)
    ]


def ivfpq_topk(
    df: DataFrame,
    coarse: PQModel,
    fine: PQModel,
    query: Sequence[float],
    nprobe: int = 2,
    k_results: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Composed IVF-PQ search — the full Jégou et al. architecture: a
    coarse quantizer partitions the corpus into cells (here a sampled
    full-dimension codebook, ``coarse.m == 1``), the query probes only
    its ``nprobe`` nearest cells, and candidates inside probed cells
    rank by PQ ADC distance.  Scan cost drops to ~``nprobe/k_coarse``
    of the corpus; recall follows nprobe (measured in tests/test_pq.py).

    Every step — cell assignment, probe selection (driver-side on the
    same integer-micro arithmetic, ties → lowest cell), ADC — is exact
    BIGINT, so the composition carries an end-to-end DuckDB oracle.

    Plan: one zero-shuffle Arrow pass computes the cell AND the fine
    codes; the cell filter prunes before any ADC work (at rest this is
    a partition-pruned scan when the codes table is written partitioned
    by cell, as ``IVFIndex.write_partitioned`` demonstrates); then
    ``TakeOrderedAndProject``.
    """
    if coarse.m != 1:
        raise ValueError("coarse quantizer must have m=1 (full-dim cells)")
    qm = [math.floor(float(x) * _MICRO) for x in query]
    cell_d = _lut(coarse, qm)[0]
    probe = [
        j for _, j in sorted((d, j) for j, d in enumerate(cell_d))[
            : int(nprobe)
        ]
    ]
    lut = _lut(fine, qm)
    # One Arrow pass does cell assignment, probe filter, and fine
    # encode — the corpus is scanned once and only survivors are
    # emitted, with zero shuffle.
    import numpy as np
    import pandas as pd

    ccents = np.asarray(coarse.centroids, dtype=np.int64)
    fcents = np.asarray(fine.centroids, dtype=np.int64)
    probe_arr = np.asarray(sorted(int(j) for j in probe))
    m, d0 = fine.m, fine.sub_dim

    def enc(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            vm = np.floor(
                np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                * _MICRO
            ).astype(np.int64)
            cell = (
                ((vm[:, None, :] - ccents[None, :, :]) ** 2)
                .sum(axis=2)
                .argmin(axis=1)
            )
            keep = np.isin(cell, probe_arr)
            if not keep.any():
                continue
            sub = vm[keep]
            codes = np.empty((int(keep.sum()), m), dtype=np.int32)
            for s in range(m):
                vs = sub[:, s * d0 : (s + 1) * d0]
                cs = fcents[:, s * d0 : (s + 1) * d0]
                dist = ((vs[:, None, :] - cs[None, :, :]) ** 2).sum(axis=2)
                codes[:, s] = dist.argmin(axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy()[keep],
                    "codes": list(codes.tolist()),
                }
            )

    encoded = df.select(id_col, vec_col).mapInPandas(
        enc, schema=f"{id_col} long, codes array<int>"
    )
    dist = None
    for s in range(fine.m):
        term = F.element_at(
            F.array(*[F.lit(v).cast("long") for v in lut[s]]),
            F.element_at(F.col("codes"), s + 1) + 1,
        )
        dist = term if dist is None else dist + term
    return (
        encoded.select(F.col(id_col), dist.alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
        .limit(int(k_results))
    )


def adc_rerank_topk(
    df: DataFrame,
    model: PQModel,
    query: Sequence[float],
    k_results: int = 10,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage PQ search — the production deployment of ADC: a cheap
    compressed-domain shortlist (``shortlist`` candidates by ADC), then
    an EXACT integer-micro squared-L2 rerank of only those candidates.
    Recall is set by the shortlist depth, cost by the codes scan — the
    classic IVF-PQ + rerank architecture.

    Plan: the shortlist (≤ ``shortlist`` rows) joins back to the corpus
    — Spark broadcasts it (AQE sees the limit), so the rerank is a
    broadcast semi-join + zero-shuffle exact distance projection +
    ``TakeOrderedAndProject``.  Output ``(id, exact_dist)`` ascending,
    ties → lowest id; every distance is exact BIGINT."""
    qm = [math.floor(float(x) * _MICRO) for x in query]
    cand = adc_topk(
        df, model, query, k_results=shortlist, id_col=id_col, vec_col=vec_col
    ).select(id_col)
    qlit = F.array(*[F.lit(v).cast("long") for v in qm])
    exact = (
        df.join(F.broadcast(cand), id_col)
        .select(F.col(id_col), _micro_col(vec_col).alias("_vm"))
        .select(
            F.col(id_col),
            F.aggregate(
                F.zip_with(
                    F.col("_vm"), qlit, lambda a, b: (a - b) * (a - b)
                ),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ).alias("exact_dist"),
        )
    )
    return exact.orderBy(
        F.col("exact_dist").asc(), F.col(id_col).asc()
    ).limit(int(k_results))


# ---------------------------------------------------------------------------
# DuckDB twins
# ---------------------------------------------------------------------------

def _pq_ctes(
    table: str,
    id_col: str,
    vec_col: str,
    m: int,
    k: int,
    seed: int,
    d0: int,
    p: str = "",
) -> str:
    """Shared CTE chain: micro vectors → sampled codebook (dense j over
    non-empty buckets in bucket order) → per-(vec, subspace, centroid)
    exact distances → per-(vec, subspace) best code.  ``p`` prefixes
    every CTE name so two codebooks (e.g. IVF-PQ's coarse + fine) can
    coexist in one oracle query."""
    bucket = _pq_bucket_sql(id_col, k, seed)
    return (
        f"{p}vm AS (SELECT {id_col}, list_transform({vec_col}, "
        f"v -> CAST(FLOOR(CAST(v AS DOUBLE) * {_MICRO}) AS BIGINT)) AS vm "
        f"FROM {table}), "
        f"{p}bk AS (SELECT {id_col}, vm, {bucket} AS b FROM {p}vm), "
        f"{p}pick AS (SELECT b, MIN({id_col}) AS cid FROM {p}bk GROUP BY b), "
        f"{p}cvec AS (SELECT CAST(row_number() OVER (ORDER BY p.b) - 1 "
        f"AS BIGINT) AS j, s.vm AS cm "
        f"FROM {p}pick p JOIN {p}bk s ON s.{id_col} = p.cid), "
        f"{p}dist AS (SELECT v.{id_col}, ss.s, c.j, "
        f"list_sum([(v.vm[ss.s * {d0} + i] - c.cm[ss.s * {d0} + i]) * "
        f"(v.vm[ss.s * {d0} + i] - c.cm[ss.s * {d0} + i]) "
        f"for i in range(1, {d0 + 1})]) AS d "
        f"FROM {p}vm v, {p}cvec c, (SELECT unnest(range({m})) AS s) ss), "
        f"{p}best AS (SELECT {id_col}, s, j, "
        f"row_number() OVER (PARTITION BY {id_col}, s ORDER BY d, j) AS rn "
        f"FROM {p}dist)"
    )


def pq_codes_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 16,
    seed: int = 7,
    dim: int = 64,
) -> str:
    """DuckDB twin of :func:`fit_pq` + :func:`pq_encode` — the codebook
    is DERIVED inside the query (same hash buckets, same min-id picks),
    so the oracle is self-contained end-to-end."""
    d0 = dim // m
    return (
        "WITH "
        + _pq_ctes(table, id_col, vec_col, m, k, seed, d0)
        + f" SELECT {id_col}, "
        f"list(CAST(j AS INTEGER) ORDER BY s) AS codes "
        f"FROM best WHERE rn = 1 GROUP BY {id_col}"
    )


def adc_topk_sql(
    query_id: int = 0,
    k_results: int = 10,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 16,
    seed: int = 7,
    dim: int = 64,
) -> str:
    """DuckDB twin of :func:`adc_topk` with the query row (``id =
    query_id``) micro-quantized inside the query — lookup table and ADC
    sum are the same exact integers as the Spark literals."""
    d0 = dim // m
    return (
        "WITH "
        + _pq_ctes(table, id_col, vec_col, m, k, seed, d0)
        + f", q AS (SELECT vm AS qm FROM vm WHERE {id_col} = {query_id}), "
        f"lut AS (SELECT ss.s, c.j, "
        f"list_sum([(q.qm[ss.s * {d0} + i] - c.cm[ss.s * {d0} + i]) * "
        f"(q.qm[ss.s * {d0} + i] - c.cm[ss.s * {d0} + i]) "
        f"for i in range(1, {d0 + 1})]) AS dq "
        f"FROM q, cvec c, (SELECT unnest(range({m})) AS s) ss) "
        f"SELECT b.{id_col}, CAST(SUM(l.dq) AS BIGINT) AS adc_dist "
        f"FROM best b JOIN lut l ON l.s = b.s AND l.j = b.j "
        f"WHERE b.rn = 1 GROUP BY b.{id_col} "
        f"ORDER BY adc_dist, b.{id_col} LIMIT {int(k_results)}"
    )


def ivfpq_topk_sql(
    query_id: int = 0,
    nprobe: int = 2,
    k_results: int = 10,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse_k: int = 8,
    coarse_seed: int = 11,
    m: int = 4,
    k: int = 16,
    seed: int = 7,
    dim: int = 64,
) -> str:
    """DuckDB twin of :func:`ivfpq_topk` — both codebooks derived inside
    the query (prefixed CTE chains), probe selection and ADC identical
    exact integers."""
    coarse = _pq_ctes(
        table, id_col, vec_col, 1, coarse_k, coarse_seed, dim, p="c"
    )
    fine = _pq_ctes(table, id_col, vec_col, m, k, seed, dim // m, p="f")
    d0 = dim // m
    return (
        "WITH "
        + coarse
        + f", cq AS (SELECT vm AS qm FROM cvm WHERE {id_col} = {query_id}), "
        f"clut AS (SELECT c.j, list_sum([(cq.qm[i] - c.cm[i]) * "
        f"(cq.qm[i] - c.cm[i]) for i in range(1, {dim + 1})]) AS dq "
        f"FROM cq, ccvec c), "
        f"probe AS (SELECT j FROM clut ORDER BY dq, j LIMIT {int(nprobe)}), "
        f"cellof AS (SELECT {id_col}, j AS cell FROM cbest WHERE rn = 1), "
        + fine
        + f", fq AS (SELECT vm AS qm FROM fvm WHERE {id_col} = {query_id}), "
        f"flut AS (SELECT ss.s, c.j, "
        f"list_sum([(fq.qm[ss.s * {d0} + i] - c.cm[ss.s * {d0} + i]) * "
        f"(fq.qm[ss.s * {d0} + i] - c.cm[ss.s * {d0} + i]) "
        f"for i in range(1, {d0 + 1})]) AS dq "
        f"FROM fq, fcvec c, (SELECT unnest(range({m})) AS s) ss), "
        f"adc AS (SELECT b.{id_col}, CAST(SUM(l.dq) AS BIGINT) AS adc_dist "
        f"FROM fbest b JOIN flut l ON l.s = b.s AND l.j = b.j "
        f"JOIN cellof co ON co.{id_col} = b.{id_col} "
        f"WHERE b.rn = 1 AND co.cell IN (SELECT j FROM probe) "
        f"GROUP BY 1) "
        f"SELECT {id_col}, adc_dist FROM adc "
        f"ORDER BY adc_dist, {id_col} LIMIT {int(k_results)}"
    )


def adc_rerank_sql(
    query_id: int = 0,
    k_results: int = 10,
    shortlist: int = 50,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 16,
    seed: int = 7,
    dim: int = 64,
) -> str:
    """DuckDB twin of :func:`adc_rerank_topk` — the ADC shortlist CTE is
    :func:`adc_topk_sql`'s ranking, the rerank the same exact
    integer-micro squared L2."""
    adc = adc_topk_sql(
        query_id, shortlist, table, id_col, vec_col, m, k, seed, dim
    )
    return (
        f"WITH cand AS ({adc}), "
        f"vm2 AS (SELECT {id_col}, list_transform({vec_col}, "
        f"v -> CAST(FLOOR(CAST(v AS DOUBLE) * {_MICRO}) AS BIGINT)) AS vm "
        f"FROM {table}), "
        f"q2 AS (SELECT vm AS qm FROM vm2 WHERE {id_col} = {query_id}) "
        f"SELECT v.{id_col}, "
        f"CAST(list_sum([(v.vm[i] - q2.qm[i]) * (v.vm[i] - q2.qm[i]) "
        f"for i in range(1, {dim + 1})]) AS BIGINT) AS exact_dist "
        f"FROM vm2 v JOIN cand c ON v.{id_col} = c.{id_col}, q2 "
        f"ORDER BY exact_dist, v.{id_col} LIMIT {int(k_results)}"
    )
