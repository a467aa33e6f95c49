"""Model-based quality filtering: hashed linear (fastText-style) scoring.

The third quality tier of an LLM-data pipeline, after heuristic rules
(``functions.text.quality_score``) and Gopher-style structural rules
(``curation.gopher_quality``): a LINEAR CLASSIFIER over hashed
bag-of-words features, the shape used by the CCNet / RefinedWeb /
fastText quality filters (Wenzek et al., arXiv:1911.00359; Penedo et
al., arXiv:2306.01116; Joulin et al., arXiv:1607.01759).

Model = the hashing trick: token → md5-bucket in ``[0, n_buckets)``,
bucket → an int64 weight, document score = Σ weight(bucket(token)),
decision = score > 0.  Everything is ONE zero-shuffle pass — tokenize
in a JVM projection (the house ``normalize_text`` whitespace
tokenization, shared with ``expl1``), then map each token to its bucket
weight and sum the int64s in one Arrow kernel.  No explode, no groupBy:
per-document cost is O(tokens), the plan is a scan + project that
pipelines into whatever filter consumes ``keep``.

The CONTRACT configuration derives weights deterministically from the
bucket id (md5-keyed pseudo-weights, integer in [-scale, +scale]) so the
score replays bit-exactly in DuckDB (:func:`hashed_linear_score_sql`).
A REAL trained model drops in without changing the plan via the
``weights`` parameter: its coefficient table is ≤ ``n_buckets`` rows,
collected bounded and baked into the scoring kernel as an array
lookup — the rest of the plan is untouched and stays exchange-free
(test-pinned).

Determinism discipline: the per-document sum is exact int64 (weights are
integers, |weight| ≤ scale, docs ≪ 2⁵³ tokens), so partition order can't
change it; only the final mean divides, and both engines divide the same
two exact integers into the same IEEE double before the shared round-6.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nlp_to_nosql_spark.functions import text as tx


def _h15(c: Column) -> Column:
    """60-bit non-negative md5 integer — the repo-wide md5-family hash
    (``CAST('0x' || substr(md5(x), 1, 15) AS UBIGINT)`` in DuckDB)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


#: Above this bucket-space size a trained weights table is no longer
#: collected to the driver and baked into the scoring kernel; it
#: broadcast-joins onto the exploded token-bucket frame instead (a
#: fastText-scale 2^20-bucket vocabulary would be a multi-MB driver
#: collect + per-task closure otherwise).
_WEIGHTS_COLLECT_MAX = 1 << 16


def _broadcast_join_score(
    df: DataFrame,
    weights: DataFrame,
    toks: Column,
    id_col: str,
    n_buckets: int,
) -> DataFrame:
    """Large-vocabulary scoring tier: weights stay a distributed frame.

    Shape: ``n_tokens`` is derived scan-side BELOW the explode (the BM25
    ``dl`` discipline — ExtractGenerator would otherwise re-evaluate it
    per token), each token row gets its md5 bucket in a plain codegen'd
    projection, the ``(bucket, weight)`` table joins as a BROADCAST hash
    join (no exchange on the corpus side; absent buckets weigh 0), and
    the per-document sum rides ONE partial-aggregated groupBy — the only
    exchange in the plan, moving one narrow row per document.  Pinned by
    ``tests/test_classify.py`` (BroadcastHashJoin + exactly 1 Exchange +
    value-equal to the baked kernel).

    The weights frame is validated in one small job (it is ≤ n_buckets
    rows by contract): duplicate buckets would silently double-count
    after a join, out-of-range buckets would silently weigh 0 — both
    raise instead, matching the baked path's checks.
    """
    wt = weights.select(
        F.col("bucket").cast("long").alias("_b"),
        F.col("weight").cast("long").alias("_w"),
    )
    stats = wt.agg(
        F.count(F.lit(1)).alias("_n"),
        F.count_distinct(F.col("_b")).alias("_nd"),
        F.min("_b").alias("_lo"),
        F.max("_b").alias("_hi"),
    ).collect()[0]
    if stats["_n"] and not (
        0 <= stats["_lo"] and stats["_hi"] < n_buckets
    ):
        raise ValueError(
            f"hashed_linear_score: bucket outside [0, {n_buckets}) "
            f"(weights span [{stats['_lo']}, {stats['_hi']}])"
        )
    if stats["_n"] != stats["_nd"]:
        raise ValueError(
            "hashed_linear_score: duplicate weight rows "
            f"({stats['_n']} rows, {stats['_nd']} distinct buckets); "
            "the trained table must be unique per bucket"
        )
    with_n = df.select(F.col(id_col), toks.alias("_toks")).select(
        F.col(id_col),
        F.size("_toks").cast("long").alias("n_tokens"),
        F.col("_toks"),
    )
    tb = with_n.select(
        F.col(id_col), F.col("n_tokens"), F.explode("_toks").alias("_t")
    ).select(
        F.col(id_col),
        F.col("n_tokens"),
        F.pmod(_h15(F.col("_t")), F.lit(n_buckets)).alias("_b"),
    )
    scored = (
        tb.join(F.broadcast(wt), "_b", "left")
        # n_tokens is functionally dependent on the id (the BM25 dl
        # trick): grouping on it changes nothing but keeps it available
        # without a second pass or a join back.
        .groupBy(id_col, "n_tokens")
        .agg(
            F.sum(F.coalesce(F.col("_w"), F.lit(0)))
            .cast("long")
            .alias("score_sum")
        )
    )
    return scored.filter(F.col("n_tokens") > 0).select(
        id_col,
        "n_tokens",
        "score_sum",
        F.round(F.col("score_sum") / F.col("n_tokens"), 6).alias("score"),
        (F.col("score_sum") > 0).alias("keep"),
    )


def hashed_linear_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    scale: int = 1000,
    weights: DataFrame | None = None,
) -> DataFrame:
    """Score every document with the hashed linear model.

    Returns ``(id, n_tokens, score_sum, score, keep)``: the exact int64
    feature-weight sum, the round-6 per-token mean, and the sign
    decision.  Documents with zero tokens are filtered (no decision
    without evidence — and no divide-by-zero in either engine).

    Scoring kernel: tokenization stays a JVM projection, and the
    per-token md5 → bucket → weight → sum runs in one ``mapInPandas``
    kernel with a per-task token→weight memo, so each DISTINCT token in a
    batch hashes once.  The interpreted-HOF Column form it replaced
    (``transform``/``aggregate`` over the token array, which hashes every
    occurrence) measured 3.89 s vs 1.61 s for this kernel at sf0.1×100
    (500k docs).  Still zero-shuffle — the exchange-free plan is
    test-pinned.

    ``weights`` is the REAL-model path: a ``(bucket, weight)`` frame of
    trained int64 coefficients.  Up to ``_WEIGHTS_COLLECT_MAX`` buckets
    (2¹⁶) it is a bounded driver collect (the IVF-centroid discipline)
    baked into the scoring kernel, so the plan stays the SAME
    zero-shuffle JVM scan (pinned exchange-free by
    ``tests/test_classify.py``).  Above the threshold —
    a fastText-scale vocabulary — the table instead BROADCAST-JOINS onto
    the exploded token-bucket frame (:func:`_broadcast_join_score`: no
    driver-side Python collect, no multi-MB task closure; one partial-
    aggregated groupBy is the only exchange), value-equal by test.
    Buckets absent from the table weigh 0 on both tiers.  Float
    coefficients should be pre-scaled to integer micros by the trainer —
    integer weights are what keeps the document sum exact and
    partition-order-free.  When ``weights`` is None the md5-keyed
    pseudo-weights below apply (the oracle-replayable contract config).
    """
    toks = F.filter(
        F.split(tx.normalize_text(F.col(text_col)), " "),
        lambda t: t != F.lit(""),
    )

    if weights is not None and n_buckets > _WEIGHTS_COLLECT_MAX:
        return _broadcast_join_score(df, weights, toks, id_col, n_buckets)

    wtable: list[int] | None = None
    if weights is not None:
        rows = weights.select("bucket", "weight").collect()
        wtable = [0] * n_buckets
        seen: set[int] = set()
        for r in rows:
            b = int(r["bucket"])
            if not 0 <= b < n_buckets:
                raise ValueError(
                    f"hashed_linear_score: bucket {b} outside "
                    f"[0, {n_buckets})"
                )
            if b in seen:
                # collect order is nondeterministic — last-write-wins on
                # a duplicated bucket would make scores depend on task
                # scheduling, a silent corruption; refuse instead.
                raise ValueError(
                    f"hashed_linear_score: duplicate weight rows for "
                    f"bucket {b}; the trained table must be unique per "
                    "bucket"
                )
            seen.add(b)
            wtable[b] = int(r["weight"])

    scored = df.select(id_col, toks.alias("_toks")).mapInPandas(
        _arrow_scorer(id_col, n_buckets, scale, wtable),
        f"{id_col} {df.schema[id_col].dataType.simpleString()}, "
        "n_tokens long, score_sum long",
    )
    return scored.filter(F.col("n_tokens") > 0).select(
        id_col,
        "n_tokens",
        "score_sum",
        F.round(F.col("score_sum") / F.col("n_tokens"), 6).alias("score"),
        (F.col("score_sum") > 0).alias("keep"),
    )


def _arrow_scorer(id_col: str, n_buckets: int, scale: int, wtable):
    """Build the ``mapInPandas`` kernel: exact int sums over JVM-produced
    token arrays, one md5 per DISTINCT token per task via the memo dict
    (``hashlib.md5`` of the UTF-8 bytes is bit-identical to the JVM/DuckDB
    md5, pinned by the pure-python model tests).  The memo is cleared if
    it ever reaches 2²² entries — a pathological-vocabulary bound so task
    memory stays fixed at any corpus size."""
    import hashlib

    import pandas as pd

    modulus = 2 * scale + 1

    def score_batches(batches):
        cache: dict[str, int] = {}

        def w(tok: str) -> int:
            v = cache.get(tok)
            if v is None:
                if len(cache) >= 1 << 22:
                    cache.clear()
                b = (
                    int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
                    % n_buckets
                )
                if wtable is not None:
                    v = wtable[b]
                else:
                    v = (
                        int(
                            hashlib.md5(f"qw:{b}".encode()).hexdigest()[:15],
                            16,
                        )
                        % modulus
                        - scale
                    )
                cache[tok] = v
            return v

        for pdf in batches:
            ids, n_tokens, sums = [], [], []
            for doc_id, tk in zip(pdf[id_col], pdf["_toks"]):
                ids.append(doc_id)
                n_tokens.append(len(tk))
                sums.append(sum(w(t) for t in tk))
            yield pd.DataFrame(
                {id_col: ids, "n_tokens": n_tokens, "score_sum": sums}
            )

    return score_batches


def hashed_linear_score_sql(
    n_buckets: int = 1024,
    scale: int = 1000,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`hashed_linear_score` — same tokenization,
    md5 buckets, pseudo-weights, exact integer sum, and round-6 mean.
    (Hashes are non-negative, so ``%`` here equals Spark's ``pmod``.)"""
    norm = tx.NORMALIZE_SQL.format(c=text_col)
    h15 = "CAST(CAST('0x' || substr(md5({x}), 1, 15) AS UBIGINT) AS BIGINT)"
    bucket = h15.format(x="t") + f" % {n_buckets}"
    wgt = (
        h15.format(x=f"'qw:' || CAST({bucket} AS VARCHAR)")
        + f" % {2 * scale + 1} - {scale}"
    )
    return (
        f"WITH toks AS (SELECT {id_col}, "
        f"list_filter(string_split({norm}, ' '), t -> t <> '') AS ts "
        f"FROM {table}), "
        f"w AS (SELECT {id_col}, CAST(len(ts) AS BIGINT) AS n_tokens, "
        f"CAST(coalesce(list_sum(list_transform(ts, t -> {wgt})), 0) "
        "AS BIGINT) AS score_sum FROM toks) "
        f"SELECT {id_col}, n_tokens, score_sum, "
        "ROUND(score_sum / n_tokens, 6) AS score, "
        "score_sum > 0 AS keep "
        "FROM w WHERE n_tokens > 0"
    )


def hashed_linear_score_weights_sql(
    weights: "list[int]",
    n_buckets: int | None = None,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`hashed_linear_score` on the REAL-weights
    path: the coefficient table becomes a list literal indexed by the
    md5 bucket — the relational replay of the Spark side's literal
    array lookup.  ``weights`` must be the dense ``n_buckets``-long
    int table (missing buckets already zeroed), exactly what the Spark
    side bakes in."""
    n_buckets = len(weights) if n_buckets is None else n_buckets
    if len(weights) != n_buckets:
        raise ValueError(
            f"weights must have exactly n_buckets={n_buckets} entries"
        )
    norm = tx.NORMALIZE_SQL.format(c=text_col)
    h15 = "CAST(CAST('0x' || substr(md5({x}), 1, 15) AS UBIGINT) AS BIGINT)"
    bucket = h15.format(x="t") + f" % {n_buckets}"
    lit = "[" + ", ".join(f"CAST({int(w)} AS BIGINT)" for w in weights) + "]"
    wgt = f"({lit})[{bucket} + 1]"
    return (
        f"WITH toks AS (SELECT {id_col}, "
        f"list_filter(string_split({norm}, ' '), t -> t <> '') AS ts "
        f"FROM {table}), "
        f"w AS (SELECT {id_col}, CAST(len(ts) AS BIGINT) AS n_tokens, "
        f"CAST(coalesce(list_sum(list_transform(ts, t -> {wgt})), 0) "
        "AS BIGINT) AS score_sum FROM toks) "
        f"SELECT {id_col}, n_tokens, score_sum, "
        "ROUND(score_sum / n_tokens, 6) AS score, "
        "score_sum > 0 AS keep "
        "FROM w WHERE n_tokens > 0"
    )


# ---------------------------------------------------------------------------
# trained Naive Bayes char-n-gram language identifier (fastText-langid shape)
# ---------------------------------------------------------------------------


def nb_charngram_langid(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "lang",
    n: int = 3,
    seed: int = 11,
    scale: int = 1_000_000,
) -> DataFrame:
    """TRAINED language identifier: multinomial Naive Bayes over sliding
    character n-grams, fit distributedly on a seeded half of the labeled
    corpus and scoring the held-out half — the fastText-langid /
    Cavnar-Trenkle shape (Joulin et al., arXiv:1607.01759; Cavnar &
    Trenkle 1994) as count arithmetic, complementing the FIXED stopword
    heuristic ``functions.text.lang_id`` with a model actually learned
    from the data.  This is also the repo's distributed classifier
    TRAINING path (``hashed_linear_score`` only applies fixed weights).

    Model: for label ℓ with training-gram total ``tot_ℓ``, vocabulary
    size ``V`` (distinct grams across the whole training half) and
    add-one smoothing, a gram ``g`` seen ``c_{ℓg}`` times contributes
    ``lp = floor((ln(c_{ℓg}+1) − ln(tot_ℓ+V)) · scale)`` and the label
    prior contributes ``floor((ln(d_ℓ) − ln(d)) · scale)`` (training doc
    counts).  Every input to ``ln`` is an exactly-representable BIGINT —
    the repo's one libm trust point, shared with the DuckDB twin
    (:func:`nb_charngram_langid_sql`) — and per-gram floors make the
    per-(doc,label) BIGINT sum partition-order-free.  Prediction =
    argmax score, ties → lexicographically smallest label (both engines
    sort ``(score DESC, label ASC)``).

    Train/score split: the seeded 28-bit md5 bucket (``dedup.
    md5_hash28``, the mix1/cap1 convention) — ``h % 2 = 0`` trains,
    ``h % 2 = 1`` is scored; deterministic and partition-layout-free.

    The OOV algebra keeps the plan corpus-shaped rather than
    corpus×labels-shaped: a gram unseen for label ℓ contributes the
    per-label CONSTANT ``miss_ℓ = floor(−ln(tot_ℓ+V)·scale)``, so
    ``score(doc, ℓ) = Σ_matched lp + (n_grams − n_matched_ℓ)·miss_ℓ +
    prior_ℓ`` — the scored grams join ONCE on the gram key against the
    (label, gram) count table and only the per-(doc,label) AGGREGATE
    meets the tiny label-constants frame.

    Returns one row per held-out document:
    ``(id, label, pred_label, n_grams, score_micro)`` where ``label`` is
    the true label (for downstream accuracy evals) and ``score_micro``
    the winning label's NB log-score.  Documents whose text yields no
    grams are predicted from priors alone.  An empty training half
    yields an empty result (no model, no predictions) on both engines.

    Plan shape (100 TB): the count tables are TRAIN-sized groupBys that
    aggregate down to (labels × vocab) rows; scoring pays one char-gram
    explode (same factor as the dedup shingle tables, persisted at the
    same storage level), one hash join on the gram key, and one
    per-(doc, label-hit) groupBy; the label-constants/vocab frames are ≤ |labels|
    rows, broadcast.  No corpus-sized state reaches the driver.
    """
    from nlp_to_nosql_spark.operators.dedup import md5_hash28
    from nlp_to_nosql_spark.plans.caching import persisted
    from nlp_to_nosql_spark.plans.partitioning import fan_out

    sid = F.col(id_col).cast("string")
    is_train = (
        md5_hash28(F.concat(F.lit(f"nb{seed}:"), sid)) % 2 == 0
    )
    # fan_out BEFORE the per-char gram explode: the testdata tables are
    # single-split files, and without it the whole corpus's substr
    # explosion runs on one core (measured 11.5 s of the query's 13 s
    # at sf0.1); at real scale the input spans many splits and this is
    # a metadata no-op.
    base = fan_out(
        df.select(F.col(id_col), F.col(label_col), F.col(text_col))
    ).select(
        F.col(id_col),
        F.col(label_col).alias("_label"),
        tx.normalize_text(F.col(text_col)).alias("_norm"),
        is_train.alias("_train"),
    )
    train = base.filter(F.col("_train"))
    score = base.filter(~F.col("_train"))
    # The CHEAP side frames (per-doc gram counts, true labels, the
    # training doc counts) are scalar projections/tiny aggregates — no
    # per-char explosion — so they read the raw scan directly instead
    # of riding base's fan_out: same expressions, same values, minus
    # one round-robin Exchange + 32-task stage per consumer.
    base_raw = df.select(
        F.col(id_col),
        F.col(label_col).alias("_label"),
        tx.normalize_text(F.col(text_col)).alias("_norm"),
        is_train.alias("_train"),
    )
    train_raw = base_raw.filter(F.col("_train"))
    score_raw = base_raw.filter(~F.col("_train"))

    # Gram production explodes POSITIONS and computes the substring
    # AFTER the Generate as a top-level codegen'd expression: a
    # dynamic-position substr inside a transform() lambda is evaluated
    # interpreted per element (measured 19 s vs 2.2 s for this corpus's
    # 1.5M trigrams at sf0.1 — same class of cost as the staged-array
    # winnowing trap, different mechanism).  The position array is a
    # cheap int sequence; `_norm` rides through the explode as an
    # attribute.
    def _gram_rows(part: DataFrame, *keep: str) -> DataFrame:
        pos = F.when(
            F.length("_norm") > 0,
            F.sequence(
                F.lit(1), F.greatest(F.length("_norm") - (n - 1), F.lit(1))
            ),
        ).otherwise(F.array().cast("array<int>"))
        return (
            part.select(*keep, "_norm", pos.alias("_ps"))
            .select(*keep, "_norm", F.explode("_ps").alias("_p"))
            .select(
                *keep, F.expr(f"substring(_norm, _p, {int(n)})").alias("g")
            )
        )

    # ONE aggregation pass over the exploded training grams — the
    # vocabulary size and the per-label totals both derive from the
    # (label, gram) count table (≤ labels×vocab rows), so the gram
    # explosion is consumed exactly once and needs no persist.
    counts = persisted(
        _gram_rows(train, "_label")
        .groupBy("_label", "g")
        .agg(F.count(F.lit(1)).cast("long").alias("c")),
        "tokens",
    )
    vocab = counts.select("g").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("_v")
    )
    doc_counts = train_raw.groupBy("_label").agg(
        F.count(F.lit(1)).cast("long").alias("_dl")
    )
    tot_docs = train_raw.agg(F.count(F.lit(1)).cast("long").alias("_d"))
    gram_tots = counts.groupBy("_label").agg(
        F.sum("c").cast("long").alias("_tot")
    )
    lconst = (
        doc_counts.join(gram_tots, "_label", "left")
        .crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(tot_docs))
        .select(
            "_label",
            (F.coalesce("_tot", F.lit(0).cast("long")) + F.col("_v")).alias(
                "_den"
            ),
            F.floor(
                -F.log((F.coalesce("_tot", F.lit(0).cast("long")) + F.col("_v"))
                       .cast("double"))
                * F.lit(float(scale))
            ).cast("long").alias("_miss"),
            F.floor(
                (F.log(F.col("_dl").cast("double"))
                 - F.log(F.col("_d").cast("double")))
                * F.lit(float(scale))
            ).cast("long").alias("_prior"),
        )
    )

    # pre-aggregate score grams to (doc, gram, occurrences) BEFORE the
    # label join: the join fans each gram out to every label that saw
    # it (the inherent #labels factor of NB scoring), so shrinking the
    # left side from gram OCCURRENCES to per-doc DISTINCT grams shrinks
    # the fan-out identically — Σ_occurrences floor(lp) = cnt·floor(lp)
    # exactly, so the oracle's per-occurrence form is value-identical.
    sg = (
        _gram_rows(score, id_col)
        .groupBy(id_col, "g")
        .agg(F.count(F.lit(1)).cast("long").alias("_cnt"))
    )
    # per-doc gram count is ANALYTIC (the gram array has exactly
    # greatest(len−(n−1), 1) elements when text is non-empty) — a pure
    # projection, so the exploded frame is consumed once (the join) and
    # needs no persist either.
    per_doc = score_raw.select(
        F.col(id_col),
        F.when(
            F.length("_norm") > 0,
            F.greatest(F.length("_norm") - (n - 1), F.lit(1)).cast("long"),
        ).otherwise(F.lit(0).cast("long")).alias("_ng"),
    )
    matched = (
        sg.join(counts, "g")
        .join(F.broadcast(lconst.select("_label", "_den")), "_label")
        .select(
            F.col(id_col),
            "_label",
            "_cnt",
            F.floor(
                (F.log((F.col("c") + 1).cast("double"))
                 - F.log(F.col("_den").cast("double")))
                * F.lit(float(scale))
            ).cast("long").alias("_lp"),
        )
        .groupBy(id_col, "_label")
        .agg(
            F.sum("_cnt").cast("long").alias("_nm"),
            F.sum(F.col("_cnt") * F.col("_lp")).cast("long").alias("_slp"),
        )
    )
    ids = score_raw.select(
        F.col(id_col), F.col("_label").alias("_true")
    ).join(per_doc, id_col, "left")
    scored = (
        ids.crossJoin(F.broadcast(lconst))
        .join(matched, [id_col, "_label"], "left")
        .select(
            F.col(id_col),
            F.col("_true"),
            F.col("_label"),
            F.coalesce("_ng", F.lit(0).cast("long")).alias("_ngp"),
            (
                F.coalesce("_slp", F.lit(0).cast("long"))
                + (
                    F.coalesce("_ng", F.lit(0).cast("long"))
                    - F.coalesce("_nm", F.lit(0).cast("long"))
                ) * F.col("_miss")
                + F.col("_prior")
            ).alias("_score"),
        )
    )
    # Argmax as a partially-aggregated min_by over the (-score, label)
    # ordering struct rather than a row_number window: same winner (the
    # struct order IS "score DESC, label ASC" — labels are distinct
    # within a doc, so the order is total), but the docs×labels frame
    # partial-aggregates to one row per doc map-side instead of
    # shuffling and sorting every row (r15 in-session A/B: value-equal
    # on all 2510 held-out docs, 3.01 → 2.93 s at sf0.1 — the window
    # sort is small at this SF; at corpus scale the removed sort is
    # #docs×#labels).
    best = scored.groupBy(id_col).agg(
        F.min_by(
            F.struct("_true", "_label", "_ngp", "_score"),
            F.struct(
                (-F.col("_score")).alias("_o1"), F.col("_label").alias("_o2")
            ),
        ).alias("_b"),
    )
    return best.select(
        F.col(id_col),
        F.col("_b._true").alias(label_col),
        F.col("_b._label").alias("pred_" + label_col),
        F.col("_b._ngp").alias("n_grams"),
        F.col("_b._score").alias("score_micro"),
    )


def nb_charngram_langid_sql(
    n: int = 3,
    seed: int = 11,
    scale: int = 1_000_000,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "lang",
) -> str:
    """DuckDB twin of :func:`nb_charngram_langid` — same seeded md5
    split, same add-one NB algebra with per-gram integer-micro floors,
    same ``(score DESC, label ASC)`` argmax."""
    norm = tx.NORMALIZE_SQL.format(c=f"COALESCE({text_col}, '')")
    split = (
        f"CAST(CAST('0x' || substr(md5('nb{seed}:' || "
        f"CAST({id_col} AS VARCHAR)), 1, 7) AS UBIGINT) % 2 AS BIGINT)"
    )
    grams = (
        "CASE WHEN len(nm) > 0 THEN "
        f"[substr(nm, p, {n}) for p in range(1, greatest(len(nm) - {n - 1}, 1) + 1)] "
        "ELSE [] END"
    )
    return (
        f"WITH base AS (SELECT {id_col}, {label_col} AS _label, "
        f"{norm} AS nm, {split} = 0 AS _train FROM {table}), "
        f"tg AS (SELECT _label, unnest({grams}) AS g FROM base WHERE _train), "
        "counts AS (SELECT _label, g, CAST(COUNT(*) AS BIGINT) AS c "
        "FROM tg GROUP BY 1, 2), "
        "vocab AS (SELECT CAST(COUNT(DISTINCT g) AS BIGINT) AS _v FROM tg), "
        "dc AS (SELECT _label, CAST(COUNT(*) AS BIGINT) AS _dl "
        "FROM base WHERE _train GROUP BY 1), "
        "td AS (SELECT CAST(COUNT(*) AS BIGINT) AS _d FROM base WHERE _train), "
        "gt AS (SELECT _label, CAST(COUNT(*) AS BIGINT) AS _tot "
        "FROM tg GROUP BY 1), "
        "lconst AS (SELECT dc._label, COALESCE(_tot, 0) + _v AS _den, "
        f"CAST(FLOOR(-ln(CAST(COALESCE(_tot, 0) + _v AS DOUBLE)) * {scale}) "
        "AS BIGINT) AS _miss, "
        f"CAST(FLOOR((ln(CAST(_dl AS DOUBLE)) - ln(CAST(_d AS DOUBLE))) * {scale}) "
        "AS BIGINT) AS _prior "
        "FROM dc LEFT JOIN gt ON dc._label = gt._label CROSS JOIN vocab "
        "CROSS JOIN td), "
        f"sg AS (SELECT {id_col}, unnest({grams}) AS g "
        "FROM base WHERE NOT _train), "
        f"pd AS (SELECT {id_col}, CAST(COUNT(*) AS BIGINT) AS _ng "
        "FROM sg GROUP BY 1), "
        f"matched AS (SELECT {id_col}, _label, "
        "CAST(COUNT(*) AS BIGINT) AS _nm, "
        "CAST(SUM(_lp) AS BIGINT) AS _slp FROM ("
        f"SELECT sg.{id_col}, counts._label, "
        "CAST(FLOOR((ln(CAST(c + 1 AS DOUBLE)) - ln(CAST(_den AS DOUBLE))) "
        f"* {scale}) AS BIGINT) AS _lp "
        "FROM sg JOIN counts USING (g) "
        "JOIN lconst ON counts._label = lconst._label) GROUP BY 1, 2), "
        f"ids AS (SELECT base.{id_col}, base._label AS _true, pd._ng "
        f"FROM base LEFT JOIN pd USING ({id_col}) WHERE NOT _train), "
        f"scored AS (SELECT ids.{id_col}, ids._true, lconst._label, "
        "COALESCE(_ng, 0) AS _ngp, "
        "COALESCE(_slp, 0) + (COALESCE(_ng, 0) - COALESCE(_nm, 0)) * _miss "
        "+ _prior AS _score "
        "FROM ids CROSS JOIN lconst "
        f"LEFT JOIN matched ON ids.{id_col} = matched.{id_col} "
        "AND lconst._label = matched._label) "
        f"SELECT {id_col}, _true AS {label_col}, _label AS pred_{label_col}, "
        "_ngp AS n_grams, _score AS score_micro FROM ("
        f"SELECT *, ROW_NUMBER() OVER (PARTITION BY {id_col} "
        "ORDER BY _score DESC, _label ASC) AS _rn FROM scored) "
        "WHERE _rn = 1"
    )
