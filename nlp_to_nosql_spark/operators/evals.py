"""Retrieval evaluation and fusion: recall@k / MRR, RRF, pair-set P/R.

The measurement-and-combination layer a training-data pipeline runs on
ranked lists and candidate pair sets: reciprocal-rank fusion of
sparse+dense retrievers (``rrf_fuse``), recall@k / MRR against
relevance judgments (``retrieval_metrics``), classifier
precision/recall/F1 and calibration (``classification_metrics``), and
dedup-tier pair-set quality against exact ground truth
(``pair_set_quality``) — the numbers a RAG eval set, a hard-negative
miner, or an LSH configuration is tuned on.

Reference scope note: the reference engine (No_Sql.py) has no retrieval
or evaluation support; this belongs to the driver-mandated
LLM-data-pipeline extension surface (SURVEY.md §2 extensions).

Determinism discipline: both metrics are emitted as integer micros via
BIGINT floor division (``hits·10⁶ div n_rel``, ``10⁶ div first_rank``) —
no float ever forms, so the DuckDB twin (``//``) is value-exact by
construction.

Scale shape: the ranked input is already top-k-bounded per query (the
upstream retriever's job — e.g. ``bm25_topk``'s salted two-stage
window), so every frame here is #queries-proportional except ``qrels``,
which joins on its natural ``(query, id)`` key and partially aggregates
to one row per (query, doc) before anything wide.  No corpus scan
happens in this module at any scale.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def rrf_fuse(
    rankings: "list[DataFrame]",
    k: int = 60,
    top_n: int = 10,
    query_col: str = "query_id",
    id_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal-rank fusion of ranked retrieval lists (Cormack,
    Clarke & Büttcher 2009) — the standard score-free combiner for
    hybrid sparse+dense retrieval (BM25 ∪ embedding top-k feeding one
    RAG candidate pool).

    Each input frame holds ``(query_col, rk, id_col, ...)`` with ``rk``
    1-based (the shape ``bm25_topk`` and the ANN top-k family emit).
    A document's fused score is ``Σ_systems 10⁶ div (k + rk)`` — the
    classic ``1/(k+rank)`` folded to BIGINT floor division so the sum
    is exact and partition-order-free (no float ever forms; the DuckDB
    twin :func:`rrf_fuse_sql` replays it with ``//``).  Documents
    absent from a system's list contribute 0 from that system.
    Returns the fused top ``top_n`` per query:
    ``(query_col, rk, id_col, rrf_micro)``, ties broken by id asc.

    Scale: inputs are already top-k-bounded per query by their
    retrievers, so every frame here is ``#queries × k × #systems``
    rows — the union, groupBy and final window are all tiny regardless
    of corpus size (no salting needed: a query's candidate pool is ≤
    systems·k rows by construction).
    """
    if not rankings:
        raise ValueError("rrf_fuse: need at least one ranking")
    contribs = [
        r.select(
            query_col,
            id_col,
            F.expr(f"1000000L div ({int(k)} + rk)").alias("_c"),
        )
        for r in rankings
    ]
    fused = (
        reduce(DataFrame.unionByName, contribs)
        .groupBy(query_col, id_col)
        .agg(F.sum("_c").cast("long").alias("rrf_micro"))
    )
    w = Window.partitionBy(query_col).orderBy(
        F.desc("rrf_micro"), F.asc(id_col)
    )
    return (
        fused.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= int(top_n))
        .select(query_col, "rk", id_col, "rrf_micro")
    )


def rrf_fuse_sql(
    ranking_sqls: "list[str]",
    k: int = 60,
    top_n: int = 10,
    query_col: str = "query_id",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`rrf_fuse`: each input SQL produces
    ``(query_col, rk, id_col)``; ``//`` replays Spark's ``div`` exactly
    (both operands non-negative)."""
    union = " UNION ALL ".join(
        f"SELECT {query_col}, {id_col}, "
        f"1000000 // ({int(k)} + rk) AS c FROM ({s}) r{i}"
        for i, s in enumerate(ranking_sqls)
    )
    return (
        f"WITH allc AS ({union}), "
        f"fused AS (SELECT {query_col}, {id_col}, "
        f"CAST(SUM(c) AS BIGINT) AS rrf_micro FROM allc "
        f"GROUP BY {query_col}, {id_col}) "
        f"SELECT {query_col}, CAST(ROW_NUMBER() OVER "
        f"(PARTITION BY {query_col} "
        f"ORDER BY rrf_micro DESC, {id_col}) AS INT) AS rk, "
        f"{id_col}, rrf_micro FROM fused "
        f"QUALIFY rk <= {int(top_n)}"
    )


def pair_set_quality(
    pred: DataFrame,
    truth: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    truth_universe: DataFrame | None = None,
) -> DataFrame:
    """Candidate-pair quality of an approximate dedup tier against an
    exact ground-truth pair set — the measurement that tunes LSH
    bands/permutations/thresholds before a corpus-scale run.

    ``pred`` and ``truth`` hold unordered pair relations
    ``(id_a < id_b)`` (the shape every dedup pair operator emits);
    both are deduplicated defensively.  Returns ONE row:
    ``(n_pred, n_true, tp, fp, fn, precision_micro, recall_micro)``
    with the ratios as BIGINT floor divisions of exact counts (the
    ``classification_metrics`` discipline — no float forms, undefined
    ratios emit 0).

    Scale: one full outer join on the pair key plus a global partial
    aggregate — both sides are pair-set-sized (already banded/bounded
    by their generators), never corpus-sized.  The TRUTH side is the
    exception: an exact-Jaccard pair relation is quadratic-ish in
    dense near-dup regimes, and this eval is a TUNING MEASUREMENT, not
    a corpus-scale operator.  Pass ``truth_universe`` (the frame the
    truth generator enumerates pairs over — the documents / distinct
    paragraphs) to enforce that contract in code: one count-only job,
    and a fail-fast above the ``embedding_neardup_exact`` row ceiling
    (``similarity._EXACT_MAX_ROWS``) pointing at
    :func:`pair_set_quality_sampled` — instead of silently launching
    the exact truth join over a full corpus.
    """
    if truth_universe is not None:
        from nlp_to_nosql_spark.operators.similarity import _EXACT_MAX_ROWS

        n = truth_universe.count()
        if n > _EXACT_MAX_ROWS:
            raise ValueError(
                f"pair_set_quality: truth universe has {n} rows "
                f"(> {_EXACT_MAX_ROWS}); the exact-pair truth relation is "
                "a tuning measurement, not a corpus-scale operator — run "
                "pair_set_quality_sampled (the seeded consistent-hash "
                "sampled tier)."
            )
    p = pred.select(id_a, id_b).distinct().withColumn("_p", F.lit(1))
    t = truth.select(id_a, id_b).distinct().withColumn("_t", F.lit(1))
    j = p.join(t, [id_a, id_b], "full")
    # SUM over zero rows is NULL in both engines — coalesce so an empty
    # comparison reads as all-zero counts, not a NULL row
    counted = j.agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.col("_p").isNotNull() & F.col("_t").isNotNull(), 1
                ).otherwise(0)
            ),
            F.lit(0),
        ).cast("long").alias("tp"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("_p").isNotNull() & F.col("_t").isNull(), 1
                ).otherwise(0)
            ),
            F.lit(0),
        ).cast("long").alias("fp"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("_p").isNull() & F.col("_t").isNotNull(), 1
                ).otherwise(0)
            ),
            F.lit(0),
        ).cast("long").alias("fn"),
    )
    return counted.select(
        (F.col("tp") + F.col("fp")).alias("n_pred"),
        (F.col("tp") + F.col("fn")).alias("n_true"),
        "tp",
        "fp",
        "fn",
        F.expr(
            "CASE WHEN tp + fp > 0 THEN (tp * 1000000L) div (tp + fp) "
            "ELSE 0L END"
        ).alias("precision_micro"),
        F.expr(
            "CASE WHEN tp + fn > 0 THEN (tp * 1000000L) div (tp + fn) "
            "ELSE 0L END"
        ).alias("recall_micro"),
    )


def pair_set_quality_sql(
    pred_sql: str,
    truth_sql: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> str:
    """DuckDB twin of :func:`pair_set_quality` — same full outer join
    and BIGINT floor divisions over any two pair-producing SQLs."""
    return (
        f"WITH p AS (SELECT DISTINCT {id_a}, {id_b}, 1 AS _p "
        f"FROM ({pred_sql}) sp), "
        f"t AS (SELECT DISTINCT {id_a}, {id_b}, 1 AS _t "
        f"FROM ({truth_sql}) st), "
        f"j AS (SELECT p._p, t._t FROM p FULL OUTER JOIN t "
        f"USING ({id_a}, {id_b})), "
        "c AS (SELECT "
        "CAST(COALESCE(SUM(CASE WHEN _p IS NOT NULL AND _t IS NOT NULL "
        "THEN 1 ELSE 0 END), 0) AS BIGINT) AS tp, "
        "CAST(COALESCE(SUM(CASE WHEN _p IS NOT NULL AND _t IS NULL "
        "THEN 1 ELSE 0 END), 0) AS BIGINT) AS fp, "
        "CAST(COALESCE(SUM(CASE WHEN _p IS NULL AND _t IS NOT NULL "
        "THEN 1 ELSE 0 END), 0) AS BIGINT) AS fn FROM j) "
        "SELECT tp + fp AS n_pred, tp + fn AS n_true, tp, fp, fn, "
        "CAST(CASE WHEN tp + fp > 0 THEN (tp * 1000000) // (tp + fp) "
        "ELSE 0 END AS BIGINT) AS precision_micro, "
        "CAST(CASE WHEN tp + fn > 0 THEN (tp * 1000000) // (tp + fn) "
        "ELSE 0 END AS BIGINT) AS recall_micro FROM c"
    )


def pair_set_quality_sampled(
    universe: DataFrame,
    key_col,
    pred_fn,
    truth_fn,
    rate: float = 0.5,
    seed: int = 101,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """The corpus-scale tier of :func:`pair_set_quality` — the lm7
    recipe (``curation.ppl_buckets_sampled``): estimate the dedup
    tier's precision/recall from a seeded consistent-hash SAMPLE of
    the pair universe instead of the full exact truth relation.

    ``universe`` is the frame both pair generators enumerate (the
    documents, or the distinct-paragraph stream); ``pred_fn`` /
    ``truth_fn`` map the sampled universe to their pair sets.  The
    sample is taken ONCE at the universe level with
    :func:`~nlp_to_nosql_spark.operators.curation.
    consistent_key_sample`'s md5 discipline (engine-reproducible, so
    the tier carries the same value-level oracle as the full eval):
    a pair survives iff BOTH endpoints are sampled, i.e. the estimate
    is the exact precision/recall of the induced subgraph on a
    ``rate`` fraction of nodes — the standard way to tune LSH
    bands/thresholds when the full truth join (quadratic-ish in dense
    near-dup regimes) is unaffordable.  Truth-side pair work drops by
    ~``rate²``.

    Both generators see the SAME sampled frame, so the measurement
    compares them on identical inputs; the full-eval ceiling
    (``truth_universe``) is deliberately NOT re-applied here — the
    sample IS the guard, and callers pick ``rate`` so the sampled
    universe is exact-affordable.
    """
    from nlp_to_nosql_spark.operators.curation import consistent_key_sample
    from nlp_to_nosql_spark.plans.caching import persisted

    # Both pair generators consume the sampled universe (and its whole
    # upstream census lineage): persist the sample so that lineage runs
    # once, not once per generator.
    s = persisted(consistent_key_sample(universe, key_col, rate, seed), "documents")
    return pair_set_quality(pred_fn(s), truth_fn(s), id_a, id_b)


def retrieval_metrics(
    results: DataFrame,
    qrels: DataFrame,
    k: int = 5,
    query_col: str = "query_id",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-query retrieval quality over a ranked result table.

    ``results`` holds ranked lists ``(query_col, rk, id_col, ...)`` with
    ``rk`` 1-based (the shape ``bm25_topk`` / the ANN top-k family
    emit); ``qrels`` holds the relevant ``(query_col, id_col)`` pairs.
    Returns ``(query_col, n_rel, hits, recall_micro, mrr_micro)``:

    * ``hits`` — relevant documents among the top ``k`` results;
    * ``recall_micro`` — ``floor(10⁶ · hits / n_rel)`` (BIGINT floor
      division, exact);
    * ``mrr_micro`` — ``floor(10⁶ / rank-of-first-hit)``, 0 when no
      relevant document was retrieved.

    Queries with no relevance judgments are excluded (recall undefined
    without a denominator); queries judged but missed entirely appear
    with ``hits = 0``.  Duplicate ``(query, doc)`` judgment rows are
    deduplicated before counting — a document is relevant once, so
    ``n_rel``/``hits`` never inflate and ``hits ≤ k`` always holds.
    """
    topk = results.filter(F.col("rk") <= int(k)).select(
        query_col, "rk", id_col
    )
    # Dedup judgments first: a duplicate (query, doc) row must count as
    # ONE relevant document, not inflate n_rel and hits (hits could
    # otherwise exceed k).  qrels is judgment-sized, so the distinct's
    # shuffle is #judgments-proportional, never corpus-proportional.
    qr = qrels.select(query_col, id_col).distinct()
    nrel = qr.groupBy(query_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_rel")
    )
    hit = (
        topk.join(qr, [query_col, id_col])
        .groupBy(query_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("hits"),
            F.min("rk").cast("long").alias("_first"),
        )
    )
    return (
        nrel.join(hit, query_col, "left")
        .select(
            query_col,
            "n_rel",
            F.coalesce(F.col("hits"), F.lit(0).cast("long")).alias("hits"),
            F.expr("(coalesce(hits, 0L) * 1000000L) div n_rel")
            .cast("long")
            .alias("recall_micro"),
            F.coalesce(
                F.expr("1000000L div _first"), F.lit(0).cast("long")
            ).alias("mrr_micro"),
        )
    )


def classification_metrics(
    pred: DataFrame,
    truth: DataFrame | None,
    id_col: str = "doc_id",
    pred_col: str = "pred",
    truth_col: str = "label",
    group_cols: "list[str] | None" = None,
) -> DataFrame:
    """Confusion counts + precision/recall/F1/accuracy for a binary
    classifier's predictions against a labeled truth table — the
    measurement step after training/tuning a quality filter
    (``classify.hashed_linear_score`` thresholds, Gopher rules, …).

    ``pred`` holds ``(id_col, pred_col boolean[, group_cols...])``;
    ``truth`` holds ``(id_col, truth_col boolean)`` — or pass ``truth=
    None`` when ``pred`` already carries ``truth_col`` (a pre-labeled
    frame skips the equi-join entirely: one fewer scan AND one fewer
    shuffle when predictions and labels come off the same table, as
    eval2 does).  Returns one row
    per group (or a single global row) with ``(tp, fp, fn, tn,
    precision_micro, recall_micro, f1_micro, accuracy_micro)`` — every
    metric a BIGINT floor division of exact counts (``f1 = 2·tp·10⁶ div
    (2·tp + fp + fn)``), so no float ever forms and the DuckDB twin is
    value-exact.  Undefined ratios (zero denominator) emit 0.

    Scale: one equi-join on the id (both sides hash-partition; at
    ingest scale the truth table is usually a small labeled sample, and
    Spark's size estimate broadcasts it) followed by a conditional
    count aggregate that partially aggregates to one row per group per
    map partition.
    """
    keys = list(group_cols or [])
    if truth is None:
        j = pred.select(id_col, pred_col, truth_col, *keys)
    else:
        j = pred.select(id_col, pred_col, *keys).join(
            truth.select(id_col, truth_col), id_col
        )
    p = F.col(pred_col)
    t = F.col(truth_col)

    def cnt(cond: "F.Column", name: str):
        # coalesce: the ungrouped aggregate over an EMPTY join emits one
        # row of NULL sums — a zero-count confusion row is the contract
        return (
            F.coalesce(F.sum(F.when(cond, 1).otherwise(0)), F.lit(0))
            .cast("long")
            .alias(name)
        )

    agg = j.groupBy(*keys).agg(
        cnt(p & t, "tp"),
        cnt(p & ~t, "fp"),
        cnt(~p & t, "fn"),
        cnt(~p & ~t, "tn"),
    )

    def ratio(num: str, den: str, name: str):
        return (
            F.when(
                F.expr(den) > 0, F.expr(f"({num}) div ({den})")
            )
            .otherwise(0)
            .cast("long")
            .alias(name)
        )

    return agg.select(
        *keys,
        "tp",
        "fp",
        "fn",
        "tn",
        ratio("tp * 1000000L", "tp + fp", "precision_micro"),
        ratio("tp * 1000000L", "tp + fn", "recall_micro"),
        ratio("2L * tp * 1000000L", "2L * tp + fp + fn", "f1_micro"),
        ratio("(tp + tn) * 1000000L", "tp + fp + fn + tn", "accuracy_micro"),
    )


def classification_metrics_sql(
    pred_sql: str,
    truth_sql: str,
    id_col: str = "doc_id",
    pred_col: str = "pred",
    truth_col: str = "label",
    group_cols: "list[str] | None" = None,
) -> str:
    """DuckDB twin of :func:`classification_metrics`: wrap any
    prediction SQL and truth SQL as CTE blocks and replay the exact
    floor-division metrics."""
    keys = list(group_cols or [])
    ksel = ("".join(f"{k}, " for k in keys)).rstrip()
    kgrp = f" GROUP BY {', '.join(keys)}" if keys else ""

    def ratio(num: str, den: str, name: str) -> str:
        return (
            f"CAST(CASE WHEN {den} > 0 THEN ({num}) // ({den}) "
            f"ELSE 0 END AS BIGINT) AS {name}"
        )

    return (
        f"WITH p AS (SELECT {ksel} {id_col}, {pred_col} "
        f"FROM ({pred_sql}) pp), "
        f"t AS (SELECT {id_col}, {truth_col} FROM ({truth_sql}) tt), "
        f"c AS (SELECT {ksel} "
        f"CAST(COALESCE(SUM(CASE WHEN {pred_col} AND {truth_col} "
        "THEN 1 ELSE 0 END), 0) AS BIGINT) AS tp, "
        f"CAST(COALESCE(SUM(CASE WHEN {pred_col} AND NOT {truth_col} "
        "THEN 1 ELSE 0 END), 0) AS BIGINT) AS fp, "
        f"CAST(COALESCE(SUM(CASE WHEN NOT {pred_col} AND {truth_col} "
        "THEN 1 ELSE 0 END), 0) AS BIGINT) AS fn, "
        f"CAST(COALESCE(SUM(CASE WHEN NOT {pred_col} AND NOT {truth_col} "
        "THEN 1 ELSE 0 END), 0) AS BIGINT) AS tn "
        f"FROM p JOIN t USING ({id_col}){kgrp}) "
        f"SELECT {ksel} tp, fp, fn, tn, "
        + ratio("tp * 1000000", "tp + fp", "precision_micro")
        + ", "
        + ratio("tp * 1000000", "tp + fn", "recall_micro")
        + ", "
        + ratio("2 * tp * 1000000", "2 * tp + fp + fn", "f1_micro")
        + ", "
        + ratio(
            "(tp + tn) * 1000000", "tp + fp + fn + tn", "accuracy_micro"
        )
        + " FROM c"
    )


def calibration_table(
    scored: DataFrame,
    truth: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "score_sum",
    truth_col: str = "label",
    band_width: int = 2000,
    lo: int = -10_000,
    hi: int = 10_000,
) -> DataFrame:
    """Score-band calibration of a classifier: how often each score
    band is actually positive — ``(band, band_lo, n, n_pos,
    pos_rate_micro)`` — the table a threshold is tuned from before a
    quality filter gates an ingest.

    Scores are CLAMPED to ``[lo, hi]`` (both must be multiples of
    ``band_width``; the extremes become open-ended edge bands) and
    banded by exact integer division of the non-negative shifted score
    — ``(clamp(score) − lo) div band_width`` — so Spark ``div`` and
    DuckDB ``//`` agree without any floor-vs-truncate ambiguity on
    negative operands.  ``pos_rate_micro`` is BIGINT floor division;
    no float forms anywhere.

    Scale: one id-equi-join plus a groupBy on a domain-bounded key
    (≤ ``(hi−lo)/band_width + 1`` bands), partially aggregated to the
    band count per map partition — the prof5 histogram discipline.
    """
    if band_width <= 0:
        raise ValueError("band_width must be positive")
    if lo % band_width or hi % band_width or lo >= hi:
        raise ValueError(
            "lo/hi must be multiples of band_width with lo < hi"
        )
    band = F.expr(
        f"(greatest({lo}L, least({hi}L, CAST({score_col} AS BIGINT)))"
        f" - {lo}L) div {band_width}L"
    ).cast("long")
    j = scored.select(id_col, band.alias("band")).join(
        truth.select(id_col, truth_col), id_col
    )
    return (
        j.groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col(truth_col), 1).otherwise(0))
            .cast("long")
            .alias("n_pos"),
        )
        .select(
            "band",
            (F.col("band") * band_width + lo).cast("long").alias("band_lo"),
            "n",
            "n_pos",
            F.expr("(n_pos * 1000000L) div n").cast("long").alias(
                "pos_rate_micro"
            ),
        )
    )


def calibration_table_sql(
    scored_sql: str,
    truth_sql: str,
    id_col: str = "doc_id",
    score_col: str = "score_sum",
    truth_col: str = "label",
    band_width: int = 2000,
    lo: int = -10_000,
    hi: int = 10_000,
) -> str:
    """DuckDB twin of :func:`calibration_table` (same shifted
    non-negative integer division, same BIGINT floor-division rate)."""
    return (
        f"WITH s AS (SELECT {id_col}, "
        f"(GREATEST({lo}, LEAST({hi}, CAST({score_col} AS BIGINT))) "
        f"- {lo}) // {band_width} AS band FROM ({scored_sql}) ss), "
        f"t AS (SELECT {id_col}, {truth_col} FROM ({truth_sql}) tt), "
        "g AS (SELECT band, CAST(COUNT(*) AS BIGINT) AS n, "
        f"CAST(SUM(CASE WHEN {truth_col} THEN 1 ELSE 0 END) AS BIGINT) "
        f"AS n_pos FROM s JOIN t USING ({id_col}) GROUP BY band) "
        "SELECT CAST(band AS BIGINT) AS band, "
        f"CAST(band * {band_width} + {lo} AS BIGINT) AS band_lo, "
        "n, n_pos, "
        "CAST((n_pos * 1000000) // n AS BIGINT) AS pos_rate_micro FROM g"
    )


def retrieval_metrics_sql(
    results_sql: str,
    qrels_sql: str,
    k: int = 5,
    query_col: str = "query_id",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`retrieval_metrics`: wrap any ranked-list
    SQL (e.g. ``bm25_topk_sql``) and any relevance SQL as CTE blocks and
    replay the BIGINT-floor-division metrics (``//`` ≡ Spark ``div`` for
    the non-negative operands here)."""
    return (
        f"WITH res AS (SELECT {query_col}, rk, {id_col} "
        f"FROM ({results_sql}) r WHERE rk <= {int(k)}), "
        f"qr AS (SELECT DISTINCT {query_col}, {id_col} "
        f"FROM ({qrels_sql}) s), "
        f"nrel AS (SELECT {query_col}, CAST(COUNT(*) AS BIGINT) AS n_rel "
        f"FROM qr GROUP BY {query_col}), "
        f"hit AS (SELECT {query_col}, CAST(COUNT(*) AS BIGINT) AS hits, "
        f"CAST(MIN(rk) AS BIGINT) AS first_rk "
        f"FROM res JOIN qr USING ({query_col}, {id_col}) "
        f"GROUP BY {query_col}) "
        f"SELECT nrel.{query_col}, n_rel, "
        "CAST(coalesce(hits, 0) AS BIGINT) AS hits, "
        "CAST((coalesce(hits, 0) * 1000000) // n_rel AS BIGINT) "
        "AS recall_micro, "
        "CAST(coalesce(1000000 // first_rk, 0) AS BIGINT) AS mrr_micro "
        f"FROM nrel LEFT JOIN hit USING ({query_col})"
    )


def rank_correlation(
    df: DataFrame,
    col_a: str,
    col_b: str,
    id_col: str = "doc_id",
    group_col: str | None = None,
) -> DataFrame:
    """Spearman rank correlation between two per-row scores — the
    agreement diagnostic run before swapping one quality signal for
    another (does the cheap corpus-self LM score rank documents the way
    the target-trained one does?  does a fastText filter agree with a
    perplexity filter?).

    Ranks are ``row_number`` under the total order ``(score DESC, id
    ASC)`` — the rank-of-record convention every top-k in this engine
    uses, so ties break deterministically by id rather than averaging
    (the classical tie correction); on micro-scaled scores ties are
    rare and the bias is negligible, and the convention is what makes
    the DuckDB twin value-exact.  Emits per group (or one global row)::

        (n, sum_d2, rho_micro)

    with ``sum_d2 = Σ(rank_a − rank_b)²`` an exact BIGINT and
    ``rho_micro = floor((1 − 6·sum_d2 / (n(n²−1))) · 1e6)`` — the one
    float step is a division of exactly-representable BIGINTs shared
    association-for-association with the twin (``n`` up to ~2×10⁵ keeps
    ``n³`` inside 2⁵³; groups are languages/sources, far below that).
    Groups with n < 2 emit NULL rho (undefined).

    Scale shape: the input must already be one narrow row per id (a
    score join, not a corpus scan); the two rank windows are the only
    wide ops, partitioned by ``group_col``.  At 100 TB rank the
    CONSISTENT-HASH SAMPLE (``curation.consistent_key_sample``), not
    the corpus — a rank correlation estimate needs ~10⁴ rows, not 10¹⁰;
    the operator itself is unchanged on the sampled frame.
    """
    gcols = [group_col] if group_col else []
    part = [F.col(group_col)] if group_col else []
    wa = Window.partitionBy(*part).orderBy(
        F.desc_nulls_last(col_a), F.asc(id_col)
    )
    wb = Window.partitionBy(*part).orderBy(
        F.desc_nulls_last(col_b), F.asc(id_col)
    )
    ranked = df.select(
        *gcols,
        F.col(id_col),
        F.row_number().over(wa).cast("long").alias("_ra"),
        F.row_number().over(wb).cast("long").alias("_rb"),
    )
    d2 = (F.col("_ra") - F.col("_rb")) * (F.col("_ra") - F.col("_rb"))
    agg = ranked.groupBy(*gcols).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(d2).cast("long").alias("sum_d2"),
    )
    denom = (
        F.col("n") * (F.col("n") * F.col("n") - F.lit(1).cast("long"))
    ).cast("double")
    return agg.select(
        *gcols,
        "n",
        "sum_d2",
        F.when(
            F.col("n") >= 2,
            F.floor(
                (
                    F.lit(1.0)
                    - F.lit(6.0) * F.col("sum_d2").cast("double") / denom
                )
                * F.lit(1_000_000.0)
            ).cast("long"),
        ).alias("rho_micro"),
    )


def rank_correlation_sql(
    scores_sql: str,
    col_a: str,
    col_b: str,
    id_col: str = "doc_id",
    group_col: str | None = None,
) -> str:
    """DuckDB twin of :func:`rank_correlation` over a scores subquery —
    same (score DESC NULLS LAST, id) row_number ranks, BIGINT ``sum_d2``,
    and the identical float association for ``rho_micro``."""
    g = f"{group_col}, " if group_col else ""
    part = f"PARTITION BY {group_col} " if group_col else ""
    grp = f"GROUP BY {group_col}" if group_col else ""
    return (
        f"WITH rc_scores AS ({scores_sql}), "
        f"rc_ranked AS (SELECT {g}{id_col}, "
        f"CAST(row_number() OVER ({part}ORDER BY {col_a} DESC NULLS LAST, "
        f"{id_col}) AS BIGINT) AS ra, "
        f"CAST(row_number() OVER ({part}ORDER BY {col_b} DESC NULLS LAST, "
        f"{id_col}) AS BIGINT) AS rb FROM rc_scores), "
        f"rc_agg AS (SELECT {g}CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(SUM((ra - rb) * (ra - rb)) AS BIGINT) AS sum_d2 "
        f"FROM rc_ranked {grp}) "
        f"SELECT {g}n, sum_d2, "
        "CASE WHEN n >= 2 THEN CAST(FLOOR((1.0 - 6.0 * "
        "CAST(sum_d2 AS DOUBLE) / CAST(n * (n * n - 1) AS DOUBLE)) "
        "* 1000000.0) AS BIGINT) END AS rho_micro FROM rc_agg"
    )


# ---------------------------------------------------------------------------
# leave-one-out kNN label eval (the embedding-quality probe)
# ---------------------------------------------------------------------------


def knn_label_eval(
    emb: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Leave-one-out k-nearest-neighbor classification over an embedding
    table — the standard representation-quality probe (the "kNN probe"
    of the self-supervised literature, e.g. Wu et al., CVPR 2018;
    Caron et al., ICCV 2021 §4): predict every vector's label as the
    majority label among its k nearest OTHER vectors, then report
    per-label accuracy.  High kNN accuracy ⇒ the embedding space
    clusters by label ⇒ SemDeDup/ANN decisions made in that space are
    meaningful — this eval closes the loop on the whole
    similarity-operator family.

    Built ON :func:`~nlp_to_nosql_spark.operators.similarity.knn_graph`
    (exact int8-quantized cosine edges, value-level oracle): one join
    of the k·n edge list against the label column, one
    ``(node, neighbor-label)`` count, one argmax window — ties break
    ``(votes DESC, label ASC)``, identically in the DuckDB twin
    (:func:`knn_label_eval_sql`).  Returns
    ``(label, n, correct, accuracy)`` per true label, ``accuracy``
    rounded half-up to 6 places from an exact integer ratio.

    Denominator semantics (round-11 advisory, now explicit): ``n``
    counts only vectors that RECEIVED a prediction — the inner join
    with the vote argmax.  Under :func:`knn_graph` every block-pair
    sees every other vector, so with ≥ 2 input rows every vector has
    ≥ 1 neighbor and ``n`` equals the label's row count; the only
    degenerate case is a 1-row input (no neighbors, zero output
    rows).  Both engines share the inner-join convention, so the
    oracle checks the stated contract.

    Scale: inherits knn_graph's contract (exact tier fail-fast above
    ``similarity._EXACT_MAX_ROWS`` rows; per-IVF-cell at corpus scale);
    everything after the graph is edge-list-sized joins and ≤ |labels|
    output rows.
    """
    from nlp_to_nosql_spark.operators.similarity import knn_graph

    labels = emb.select(F.col(id_col), F.col(label_col))
    edges = knn_graph(emb, k=k, id_col=id_col, vec_col=vec_col).select(
        "src", "dst"
    )
    return _knn_vote_tail(edges, labels, id_col, label_col)


def knn_label_eval_celled(
    emb: DataFrame,
    n_cells: int = 8,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    **cell_kwargs,
) -> DataFrame:
    """:func:`knn_label_eval` riding the PER-IVF-CELL graph
    (:func:`~nlp_to_nosql_spark.operators.similarity.knn_graph_celled`)
    instead of the all-pairs exact tier — the shape the probe actually
    runs at corpus scale, where the exact graph's fail-fast ceiling
    bites.  Votes come only from same-cell neighbors (the IVF recall
    trade), so celled accuracy ≤ exact accuracy in expectation; the
    two queries side by side measure exactly what the coarse
    quantization costs the probe.  Same output contract and vote tail
    as :func:`knn_label_eval`; twin: :func:`knn_label_eval_celled_sql`.
    """
    from nlp_to_nosql_spark.operators.similarity import knn_graph_celled

    labels = emb.select(F.col(id_col), F.col(label_col))
    edges = knn_graph_celled(
        emb,
        n_cells=n_cells,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        **cell_kwargs,
    ).select("src", "dst")
    return _knn_vote_tail(edges, labels, id_col, label_col)


def _knn_vote_tail(
    edges: DataFrame,
    labels: DataFrame,
    id_col: str,
    label_col: str,
) -> DataFrame:
    """Shared majority-vote + per-label accuracy tail of the kNN-probe
    family (exact and celled graphs)."""
    from pyspark.sql import Window

    votes = (
        edges.join(
            labels.select(
                F.col(id_col).alias("dst"),
                F.col(label_col).alias("_nl"),
            ),
            "dst",
        )
        .groupBy("src", "_nl")
        .agg(F.count(F.lit(1)).cast("long").alias("_v"))
    )
    w = Window.partitionBy("src").orderBy(
        F.col("_v").desc(), F.col("_nl").asc()
    )
    pred = (
        votes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(F.col("src").alias(id_col), F.col("_nl").alias("_pred"))
    )
    scored = labels.join(pred, id_col)
    return (
        scored.groupBy(F.col(label_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.when(F.col(label_col) == F.col("_pred"), 1).otherwise(0)
            ).cast("long").alias("correct"),
        )
        .select(
            label_col,
            "n",
            "correct",
            F.round(
                F.col("correct").cast("double") / F.col("n").cast("double"), 6
            ).alias("accuracy"),
        )
    )


def knn_label_eval_sql(
    k: int = 5,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> str:
    """DuckDB twin of :func:`knn_label_eval` — the knn_graph oracle's
    edge list, the same (votes DESC, label ASC) majority, the same exact
    integer accuracy ratio."""
    from nlp_to_nosql_spark.operators.similarity import knn_graph_sql

    return (
        "WITH edges AS (SELECT src, dst FROM ("
        + knn_graph_sql(k=k, table=table, id_col=id_col, vec_col=vec_col)
        + ")), "
        + _knn_vote_tail_sql(table, id_col, label_col)
    )


def knn_label_eval_celled_sql(
    n_cells: int = 8,
    k: int = 5,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    **cell_kwargs,
) -> str:
    """DuckDB twin of :func:`knn_label_eval_celled` — the celled-graph
    oracle's edge list under the shared vote tail."""
    from nlp_to_nosql_spark.operators.similarity import (
        knn_graph_celled_sql,
    )

    return (
        "WITH edges AS (SELECT src, dst FROM ("
        + knn_graph_celled_sql(
            n_cells=n_cells,
            k=k,
            table=table,
            id_col=id_col,
            vec_col=vec_col,
            **cell_kwargs,
        )
        + ")), "
        + _knn_vote_tail_sql(table, id_col, label_col)
    )


def _knn_vote_tail_sql(table: str, id_col: str, label_col: str) -> str:
    """SQL twin of :func:`_knn_vote_tail` (expects an ``edges`` CTE)."""
    return (
        f"lab AS (SELECT {id_col} AS node, {label_col} AS l FROM {table}), "
        "votes AS (SELECT e.src, lab.l AS nl, "
        "CAST(COUNT(*) AS BIGINT) AS v "
        "FROM edges e JOIN lab ON e.dst = lab.node GROUP BY 1, 2), "
        "pred AS (SELECT src, nl FROM votes "
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY src "
        "ORDER BY v DESC, nl ASC) = 1), "
        "scored AS (SELECT lab.l, lab.node, pred.nl "
        "FROM lab JOIN pred ON lab.node = pred.src) "
        f"SELECT l AS {label_col}, CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(SUM(CASE WHEN l = nl THEN 1 ELSE 0 END) AS BIGINT) AS correct, "
        "ROUND(CAST(SUM(CASE WHEN l = nl THEN 1 ELSE 0 END) AS DOUBLE) / "
        "CAST(COUNT(*) AS DOUBLE), 6) AS accuracy "
        "FROM scored GROUP BY 1"
    )


# ---------------------------------------------------------------------------
# nDCG@k (binary relevance)
# ---------------------------------------------------------------------------


def ndcg_at_k(
    results: DataFrame,
    qrels: DataFrame,
    k: int = 5,
    query_col: str = "query_id",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-query nDCG@k under binary relevance — the position-weighted
    retrieval metric :func:`retrieval_metrics` (recall/MRR) lacks
    (Järvelin & Kekäläinen, TOIS 2002): a hit at rank ``i`` gains
    ``1/log2(i+1)``, DCG sums the gains over the top ``k``, IDCG is the
    best achievable (all ``min(k, n_rel)`` leading ranks hit), nDCG =
    DCG/IDCG.

    Determinism: each rank's gain is floored to integer micros
    INDEPENDENTLY — ``g(i) = floor(10⁶·ln(2)/ln(i+1))`` with both
    engines evaluating the same IEEE ops on the same doubles (``i ≤ k``
    is a small exact int) — so DCG/IDCG are exact BIGINT sums and only
    the final ratio divides (round 6, both engines).  Queries without
    judgments are excluded (IDCG undefined); judged-but-missed queries
    emit nDCG 0.

    Returns ``(query_col, n_rel, dcg_micro, idcg_micro, ndcg)``.
    Scale: judgment-sized joins on top of whatever ranked-list plan
    feeds it — the metric layer itself never touches the corpus.
    """
    gain = lambda i: F.floor(  # noqa: E731 — shared by both sums
        F.lit(1_000_000.0)
        * F.log(F.lit(2.0))
        / F.log((i + F.lit(1)).cast("double"))
    ).cast("long")
    topk = results.filter(F.col("rk") <= int(k)).select(
        query_col, "rk", id_col
    )
    qr = qrels.select(query_col, id_col).distinct()
    nrel = qr.groupBy(query_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_rel")
    )
    dcg = (
        topk.join(qr, [query_col, id_col])
        .select(query_col, gain(F.col("rk")).alias("_g"))
        .groupBy(query_col)
        .agg(F.sum("_g").cast("long").alias("dcg_micro"))
    )
    idcg = nrel.select(
        query_col,
        "n_rel",
        F.aggregate(
            F.sequence(
                F.lit(1), F.least(F.lit(int(k)), F.col("n_rel").cast("int"))
            ),
            F.lit(0).cast("long"),
            lambda acc, i: acc + gain(i),
        ).alias("idcg_micro"),
    )
    return (
        idcg.join(dcg, query_col, "left")
        .select(
            query_col,
            "n_rel",
            F.coalesce("dcg_micro", F.lit(0).cast("long")).alias(
                "dcg_micro"
            ),
            "idcg_micro",
            F.round(
                F.coalesce("dcg_micro", F.lit(0).cast("long")).cast("double")
                / F.col("idcg_micro").cast("double"),
                6,
            ).alias("ndcg"),
        )
    )


def ndcg_at_k_sql(
    results_sql: str,
    qrels_sql: str,
    k: int = 5,
    query_col: str = "query_id",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`ndcg_at_k` — identical per-rank micro
    floors (same IEEE op association), BIGINT sums, round-6 ratio."""
    gain = (
        "CAST(FLOOR(1000000.0 * ln(2.0) / ln(CAST({i} + 1 AS DOUBLE))) "
        "AS BIGINT)"
    )
    return (
        f"WITH res AS (SELECT {query_col}, rk, {id_col} "
        f"FROM ({results_sql}) r WHERE rk <= {int(k)}), "
        f"qr AS (SELECT DISTINCT {query_col}, {id_col} "
        f"FROM ({qrels_sql}) s), "
        f"nrel AS (SELECT {query_col}, CAST(COUNT(*) AS BIGINT) AS n_rel "
        f"FROM qr GROUP BY {query_col}), "
        f"dcg AS (SELECT {query_col}, CAST(SUM("
        + gain.format(i="rk")
        + f") AS BIGINT) AS dcg_micro "
        f"FROM res JOIN qr USING ({query_col}, {id_col}) "
        f"GROUP BY {query_col}), "
        f"idcg AS (SELECT {query_col}, n_rel, "
        "CAST(list_sum([" + gain.format(i="i")
        + f" for i in range(1, least({int(k)}, CAST(n_rel AS INT)) + 1)]) "
        "AS BIGINT) AS idcg_micro FROM nrel) "
        f"SELECT idcg.{query_col}, n_rel, "
        "CAST(COALESCE(dcg_micro, 0) AS BIGINT) AS dcg_micro, idcg_micro, "
        "ROUND(CAST(COALESCE(dcg_micro, 0) AS DOUBLE) / "
        "CAST(idcg_micro AS DOUBLE), 6) AS ndcg "
        f"FROM idcg LEFT JOIN dcg USING ({query_col})"
    )
