"""Data selection and tokenizer fitting for LLM training corpora.

Two pipeline stages that sit between quality filtering and packing:

* **DSIR importance selection** (Xie et al., arXiv:2302.03169, "Data
  Selection for Language Models via Importance Resampling"): estimate
  hashed-n-gram bag-of-words distributions for a small TARGET corpus
  and the large raw POOL, score every pool document by its importance
  log-ratio sum, and keep the top-k most target-like documents.  This
  is the distribution-matching tier of data selection — above the
  per-document heuristics (``functions.text.quality_score``,
  ``curation.gopher_quality``) and the discriminative classifier
  (``classify.hashed_linear_score``), which all score documents in
  isolation.
* **BPE merge-pair counting** (Sennrich et al., arXiv:1508.07909): the
  distributed inner step of byte-pair-encoding tokenizer training —
  adjacent-symbol pair frequencies weighted by word counts, computed on
  the DISTINCT-word table, never on the raw token stream.
* **BPE trainer + encoder** (:func:`bpe_train`, :func:`bpe_encode_len`):
  the full tokenizer fit — one distributed word count, then the N-merge
  loop on the driver-resident vocabulary (the subword-nmt / HuggingFace
  job shape: the corpus is tokenized exactly once and the Spark job
  count does not grow with the merge count) — then the fitted merge
  list applied per distinct word to produce per-document BPE token
  counts, the statistic that feeds token-budget packing
  (``packing.pack_documents``).

DSIR ships three selection tiers: deterministic argmax-k
(:func:`dsir_select`), per-domain quotas (:func:`dsir_select_by`), and
the paper's Gumbel top-k importance resampling with hash-derived,
oracle-replayable noise (:func:`dsir_select_gumbel`); a separate
target corpus plugs in via :func:`dsir_select_from`.

No reference analogue (the reference's 1.2 kLoC Mongo/Streamlit surface
has no corpus operators); both are driver-brief pipeline extensions.

Determinism discipline (the repo-wide oracle contract): every float
step is floored to integer micros BEFORE any aggregation, so the only
cross-engine float trust is ``ln`` of exactly-representable integers
(the one libm-trusted op, used under a 1e-6 floor grid); all sums are
then BIGINT and partition-order-free.  Feature hashing is the md5
60-bit family shared with ``classify`` so DuckDB replays it verbatim.

Scale notes (100 TB):

* DSIR makes exactly TWO passes over the exploded feature stream — one
  bucket-count groupBy (output ≤ ``n_buckets`` rows) and one per-doc
  score groupBy (one narrow row per pool document); the ``n_buckets``
  log-ratio table rides a broadcast hash join, never a corpus-side
  exchange.  Top-k is ``TakeOrdered`` (per-partition heads), not a
  global sort.
* BPE pair counting pays one corpus-token shuffle for word counts, then
  all pair work happens on the vocabulary table (Heaps' law: orders of
  magnitude smaller than the corpus) weighted by counts — the same
  trick every production BPE trainer uses.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from nlp_to_nosql_spark.functions import text as tx
from nlp_to_nosql_spark.operators.classify import _h15
from nlp_to_nosql_spark.operators.dedup import md5_hash28
from nlp_to_nosql_spark.plans.localrel import local_df
from nlp_to_nosql_spark.plans.partitioning import fan_out

#: DuckDB rendering of the 60-bit md5 hash family (``_h15``).
_H15_SQL = "CAST(CAST('0x' || substr(md5({x}), 1, 15) AS UBIGINT) AS BIGINT)"

#: Micro grid shared by both engines: log-ratios are floored onto this
#: grid before the (exact, BIGINT) per-document sum.
_MICRO = 1_000_000


def _tokens(text_col: str) -> Column:
    """The house whitespace tokenization (shared with ``classify``)."""
    return F.filter(
        F.split(tx.normalize_text(F.col(text_col)), " "),
        lambda t: t != F.lit(""),
    )


def _unigram_bigram(ts: Column) -> Column:
    """Unigrams + space-joined word bigrams of a token array.

    ``zip_with`` over two shifted slices rather than ``transform`` over
    ``sequence(1, n-1)`` because Spark's ``sequence`` infers step -1
    when start > stop — ``sequence(1, 0)`` is ``[1, 0]``, not empty —
    so the single-token case needs an explicit guard either way and the
    slice form keeps the lambda free of index arithmetic.
    """
    bigrams = F.when(
        F.size(ts) > 1,
        F.zip_with(
            F.slice(ts, 1, F.size(ts) - 1),
            F.slice(ts, 2, F.size(ts) - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.expr("CAST(array() AS array<string>)"))
    return F.concat(ts, bigrams)


def _feature_buckets(
    df: DataFrame,
    target: Column,
    n_buckets: int,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """``(id, is_target, bucket)`` — one row per hashed n-gram feature.

    The feature array is staged as a projected attribute BEFORE the
    explode (the repo-wide ExtractGenerator discipline: non-generator
    expressions in the same select are hoisted above the Generate and
    re-evaluated per OUTPUT row otherwise).

    ``target`` is coalesced to FALSE up front (null-safe ``<=> TRUE``):
    a NULL predicate (e.g. NULL lang) classifies the document as POOL —
    it shapes the pool distribution AND stays selectable — instead of
    the surprising three-valued-logic middle ground where it counted
    toward the pool counts but silently never scored (round-9 advice).
    """
    narrow = fan_out(
        df.select(
            F.col(id_col),
            target.eqNullSafe(F.lit(True)).alias("_is_t"),
            F.col(text_col),
        )
    )
    staged = narrow.select(
        F.col(id_col),
        F.col("_is_t"),
        _tokens(text_col).alias("_ts"),
    )
    feats = staged.select(
        id_col, "_is_t", _unigram_bigram(F.col("_ts")).alias("_fs")
    )
    return feats.select(
        F.col(id_col),
        F.col("_is_t"),
        F.explode("_fs").alias("_f"),
    ).select(
        F.col(id_col),
        F.col("_is_t"),
        F.pmod(_h15(F.col("_f")), F.lit(n_buckets)).alias("bucket"),
    )


def _bucket_ratios_from(feats: DataFrame, n_buckets: int) -> DataFrame:
    """Log-ratio table derived from a :func:`_feature_buckets` stream.

    The bucket-count groupBy partial-aggregates map-side to at most
    ``n_buckets`` rows per task BEFORE its exchange, so the shuffle
    moves O(n_buckets × partitions) narrow rows regardless of corpus
    size.  (A shared per-document ``(id, bucket, cnt)`` pre-aggregation
    was A/B'd against this two-pass shape and LOST — 10× probe factor
    1.2× → 1.7× — because its ReusedExchange moves O(distinct doc-bucket
    pairs) rows where this plan's two exchanges are both corpus-size-
    independent; tokenizing twice is scan-side compute that AQE's scan
    parallelism absorbs.  The repo rule holds: narrow derivation >
    ReusedExchange > persist.)
    """
    bc = feats.groupBy("bucket").agg(
        F.sum(F.when(F.col("_is_t"), 1).otherwise(0))
        .cast("long")
        .alias("tc"),
        F.sum(F.when(F.col("_is_t"), 0).otherwise(1))
        .cast("long")
        .alias("pc"),
    )
    tot = bc.agg(
        F.sum("tc").cast("long").alias("_tt"),
        F.sum("pc").cast("long").alias("_tp"),
    )
    b = F.lit(n_buckets).cast("long")
    # Product form: ln((tc+1)(Tp+B)) − ln((pc+1)(Tt+B)).  The r12 shape
    # (four chained lns before one floor) was a knife edge — when the
    # ratio is mathematically exact (tc=pc, Tt=Tp ⇒ true value 0), float
    # association noise lands at ±4e-10 and the floor flips between JVM
    # and Python libm.  Here each factor is an exact BIGINT cast to
    # double (exact below 2^53), the IEEE multiply rounds identically in
    # every engine, and equal ratios produce bit-identical products ⇒
    # ln difference exactly 0 ⇒ floor 0 everywhere.  Doubles (not
    # BIGINT) for the products because tc×Tp overflows int64 at scale.
    tgt = (F.col("tc") + 1).cast("double") * (F.col("_tp") + b).cast(
        "double"
    )
    pool = (F.col("pc") + 1).cast("double") * (F.col("_tt") + b).cast(
        "double"
    )
    return bc.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "tc",
        "pc",
        F.floor((F.log(tgt) - F.log(pool)) * F.lit(float(_MICRO)))
        .cast("long")
        .alias("lr_micro"),
    )


def dsir_select(
    df: DataFrame,
    target: Column,
    n_buckets: int = 4096,
    k: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k pool documents by DSIR importance weight.

    Fits the bucket log-ratio table on ``df`` (target rows = ``target``
    true, pool = the rest), scores every POOL document with the exact
    BIGINT sum of its features' ``lr_micro``, and returns
    ``(id, n_feats, weight_micro)`` — the ``k`` most target-like pool
    documents under the deterministic order ``(weight_micro DESC, id
    ASC)``, or all pool documents unordered when ``k`` is None.

    This is the deterministic argmax-k variant of the paper's Gumbel
    top-k resampling (the noise draw is a sampling temperature, not a
    correctness property — and a seeded noise column would be the one
    thing DuckDB could not replay).  Plan shape: the feature stream
    feeds two groupBys — the bucket-count fit (map-side combined to
    ≤ n_buckets rows per task) and the per-document sum (one narrow row
    per pool doc) — so BOTH exchanges are corpus-size-independent; the
    log-ratio table joins back by BROADCAST and top-k is TakeOrdered.
    The corpus is tokenized twice (once per pass), deliberately: see
    :func:`_bucket_ratios_from` for the measured A/B against a shared
    per-document pre-aggregation.
    """
    feats = _feature_buckets(df, target, n_buckets, text_col, id_col)
    lr = _bucket_ratios_from(feats, n_buckets)
    scored = (
        feats.filter(~F.col("_is_t"))
        .join(F.broadcast(lr.select("bucket", "lr_micro")), "bucket")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_feats"),
            F.sum("lr_micro").cast("long").alias("weight_micro"),
        )
    )
    if k is None:
        return scored
    return scored.orderBy(
        F.desc("weight_micro"), F.asc(id_col)
    ).limit(k)


def dsir_select_by(
    df: DataFrame,
    target: Column,
    group_col: str,
    n_buckets: int = 4096,
    k_per_group: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Domain-balanced DSIR: top-k pool documents PER GROUP.

    The production variant of :func:`dsir_select` — a global top-k lets
    one over-represented domain claim the whole selection budget, so
    curation pipelines quota per source/domain instead (the mixture
    discipline of ``curation.temperature_mixture``, applied at the
    selection stage).  Returns ``(id, group, n_feats, weight_micro,
    rnk)`` for the ``k_per_group`` highest-weight pool documents of
    each group under the deterministic per-group order
    ``(weight_micro DESC, id ASC)``.

    Plan shape: scoring is the unordered :func:`dsir_select` plan (its
    exchanges stay corpus-size-independent); the ``(id, group)``
    projection then joins onto the already-reduced one-row-per-doc
    scored frame, and the rank filter over that reduced frame is
    rewritten by Spark to WindowGroupLimit — per-partition top-k BEFORE
    the window exchange — so few groups do not funnel the corpus
    through single reducers (pinned by ``tests/test_selection.py``).
    """
    scored = dsir_select(
        df, target, n_buckets, k=None, text_col=text_col, id_col=id_col
    )
    joined = scored.join(df.select(id_col, group_col), id_col)
    w = Window.partitionBy(group_col).orderBy(
        F.desc("weight_micro"), F.asc(id_col)
    )
    return (
        joined.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k_per_group)
        .select(id_col, group_col, "n_feats", "weight_micro", "rnk")
    )


#: Gumbel-noise bucket count: the seeded md5 hash is reduced onto this
#: many buckets before the uniform transform, the ``curation`` mixture
#: convention (integer thresholds both engines compare identically).
_GUMBEL_BUCKETS = 1_000_000


def _gumbel_micro(id_col: str, seed: int) -> Column:
    """Hash-derived Gumbel(0, 1) noise, micro-floored — RNG-free.

    ``u = (h + 1) / (B + 1)`` over the seeded 28-bit md5 bucket hash
    (``dedup.md5_hash28``, the ``mix1``/``cap1`` convention) lands
    strictly inside (0, 1), then ``g = −ln(−ln(u))`` is the standard
    inverse-CDF Gumbel draw.  Both engines evaluate the identical
    expression tree — division of exactly-representable integers, two
    libm ``ln`` calls (the repo's one trusted float op), one multiply,
    one floor — so the BIGINT micro value replays in DuckDB
    (:func:`dsir_select_gumbel_sql`).
    """
    h = md5_hash28(
        F.concat(F.lit(f"gum{seed}:"), F.col(id_col).cast("string"))
    ) % _GUMBEL_BUCKETS
    u = (h + 1).cast("double") / F.lit(float(_GUMBEL_BUCKETS + 1))
    return F.floor(-F.log(-F.log(u)) * F.lit(float(_MICRO))).cast("long")


#: DuckDB twin of :func:`_gumbel_micro` (format with c=id expr, seed).
#: Bucket count and uniform denominator are derived from
#: ``_GUMBEL_BUCKETS``/``_MICRO`` — never frozen literals — so the two
#: sides cannot drift if the constants change (round-10 review).
_GUMBEL_SQL = (
    "CAST(FLOOR(-ln(-ln(CAST((CAST(CAST('0x' || "
    "substr(md5('gum{seed}:' || CAST({c} AS VARCHAR)), 1, 7) AS UBIGINT) "
    f"AS BIGINT) % {_GUMBEL_BUCKETS}) + 1 AS DOUBLE) / "
    f"{float(_GUMBEL_BUCKETS + 1)!r})) * {float(_MICRO)!r}) "
    "AS BIGINT)"
)


def dsir_select_from(
    pool: DataFrame,
    target: DataFrame,
    n_buckets: int = 4096,
    k: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR with a SEPARATE target corpus — the paper's actual setup
    (target = the trusted domain sample, e.g. Wikipedia; pool = the raw
    crawl), vs :func:`dsir_select`'s single-frame predicate form.

    Implemented as the union-with-flag reduction to the predicate form,
    so the fitted distributions, scoring, plan shape, and determinism
    contract are literally :func:`dsir_select`'s — target rows shape
    the target distribution and are never scored; ``id_col`` need only
    be unique WITHIN the pool (a target id colliding with a pool id is
    fine: the flag separates them before anything keys on id).
    """
    tagged = pool.select(
        F.col(id_col), F.col(text_col), F.lit(False).alias("_tgt")
    ).unionByName(
        target.select(
            F.col(id_col), F.col(text_col), F.lit(True).alias("_tgt")
        )
    )
    return dsir_select(
        tagged,
        F.col("_tgt"),
        n_buckets=n_buckets,
        k=k,
        text_col=text_col,
        id_col=id_col,
    )


def dsir_select_gumbel(
    df: DataFrame,
    target: Column,
    n_buckets: int = 4096,
    k: int = 100,
    seed: int = 7,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR with the paper's ACTUAL sampling semantics: Gumbel top-k
    importance resampling (Xie et al., arXiv:2302.03169 §3 sample
    ``k`` docs without replacement ∝ importance weights — equivalently,
    add Gumbel(0,1) noise to each log-weight and take the arg-top-k).

    :func:`dsir_select` is the deterministic argmax-k variant; this
    tier restores the resampling draw while staying oracle-replayable:
    the noise is hash-derived (seeded md5 → uniform → inverse-CDF
    Gumbel, :func:`_gumbel_micro`), micro-floored like every other
    float in the family, and added to the BIGINT ``weight_micro``
    (both already on the 1e-6 log grid — the per-doc weight IS the
    log importance ratio).  Returns ``(id, n_feats, weight_micro,
    key_micro)`` for the ``k`` largest ``key_micro = weight_micro +
    gumbel_micro`` under the total order ``(key_micro DESC, id ASC)``.

    Plan shape is :func:`dsir_select` exactly — the noise column is one
    scan-side md5 on the already-reduced one-row-per-doc scored frame,
    so both exchanges stay corpus-size-independent and top-k stays
    TakeOrdered.
    """
    scored = dsir_select(
        df, target, n_buckets, k=None, text_col=text_col, id_col=id_col
    )
    keyed = scored.withColumn(
        "key_micro",
        (F.col("weight_micro") + _gumbel_micro(id_col, seed)).cast("long"),
    )
    return keyed.orderBy(F.desc("key_micro"), F.asc(id_col)).limit(k)


def dsir_select_gumbel_sql(
    target_sql: str = "lang = 'en'",
    n_buckets: int = 4096,
    k: int = 100,
    seed: int = 7,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`dsir_select_gumbel` — the shared scored
    CTEs plus the identical hash→uniform→Gumbel micro expression and
    (key DESC, id ASC) top-k."""
    ctes = _dsir_scored_ctes(target_sql, n_buckets, table, text_col, id_col)
    g = _GUMBEL_SQL.format(c=id_col, seed=seed)
    return (
        f"{ctes} "
        f"SELECT {id_col}, n_feats, weight_micro, "
        f"CAST(weight_micro + {g} AS BIGINT) AS key_micro FROM scored "
        f"ORDER BY key_micro DESC, {id_col} LIMIT {k}"
    )


def _dsir_scored_ctes(
    target_sql: str,
    n_buckets: int,
    table: str,
    text_col: str,
    id_col: str,
) -> str:
    """The shared CTE chain of the DSIR twins, ending in ``scored``."""
    norm = tx.NORMALIZE_SQL.format(c=text_col)
    bkt = _H15_SQL.format(x="f") + f" % {n_buckets}"
    return (
        f"WITH toks AS (SELECT {id_col}, "
        f"COALESCE(({target_sql}), FALSE) AS is_t, "
        f"list_filter(string_split({norm}, ' '), t -> t <> '') AS ts "
        f"FROM {table}), "
        "feats AS (SELECT "
        f"{id_col}, is_t, {bkt} AS bucket "
        "FROM toks, LATERAL UNNEST(list_concat(ts, "
        "list_transform(generate_series(1, len(ts) - 1), "
        "i -> ts[i] || ' ' || ts[i + 1]))) AS u(f)), "
        "b AS (SELECT bucket, "
        "CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS tc, "
        "CAST(SUM(CASE WHEN is_t THEN 0 ELSE 1 END) AS BIGINT) AS pc "
        "FROM feats GROUP BY bucket), "
        "tot AS (SELECT CAST(SUM(tc) AS BIGINT) AS tt, "
        "CAST(SUM(pc) AS BIGINT) AS tp FROM b), "
        "lr AS (SELECT bucket, CAST(floor(("
        f"ln(CAST(tc + 1 AS DOUBLE) * CAST(tp + {n_buckets} AS DOUBLE)) - "
        f"ln(CAST(pc + 1 AS DOUBLE) * CAST(tt + {n_buckets} AS DOUBLE))) "
        f"* {_MICRO}) AS BIGINT) AS lr_micro FROM b, tot), "
        f"scored AS (SELECT f.{id_col}, "
        "CAST(count(*) AS BIGINT) AS n_feats, "
        "CAST(SUM(lr.lr_micro) AS BIGINT) AS weight_micro "
        "FROM feats f JOIN lr USING (bucket) WHERE NOT f.is_t "
        f"GROUP BY f.{id_col})"
    )


def dsir_select_by_sql(
    target_sql: str = "lang = 'en'",
    group_col: str = "source",
    n_buckets: int = 4096,
    k_per_group: int = 10,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`dsir_select_by` — the shared scored CTEs
    plus a group join and a ``row_number`` rank filter with the same
    per-group (weight DESC, id ASC) total order."""
    ctes = _dsir_scored_ctes(target_sql, n_buckets, table, text_col, id_col)
    return (
        f"{ctes} "
        f"SELECT {id_col}, {group_col}, n_feats, weight_micro, "
        "CAST(rnk AS INT) AS rnk FROM ("
        f"SELECT s.{id_col}, d.{group_col}, s.n_feats, s.weight_micro, "
        f"row_number() OVER (PARTITION BY d.{group_col} "
        f"ORDER BY s.weight_micro DESC, s.{id_col}) AS rnk "
        f"FROM scored s JOIN {table} d USING ({id_col})) "
        f"WHERE rnk <= {k_per_group}"
    )


def dsir_select_sql(
    target_sql: str = "lang = 'en'",
    n_buckets: int = 4096,
    k: int = 100,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`dsir_select` — same tokenization, bigram
    construction (1-based ``ts[i] || ' ' || ts[i+1]`` ≡ the Spark
    ``zip_with`` of shifted slices), md5 buckets, smoothing, ``ln``
    association, micro floor, and (weight DESC, id ASC) top-k."""
    ctes = _dsir_scored_ctes(target_sql, n_buckets, table, text_col, id_col)
    return (
        f"{ctes} "
        f"SELECT {id_col}, n_feats, weight_micro FROM scored "
        f"ORDER BY weight_micro DESC, {id_col} LIMIT {k}"
    )


def bpe_merge_pairs(
    df: DataFrame,
    text_col: str = "text",
    top_n: int = 50,
) -> DataFrame:
    """Top merge candidates of one BPE training iteration.

    Counts adjacent character pairs WITHIN words, weighted by corpus
    word frequency, and returns the ``top_n`` ``(pair, pair_count)``
    rows under the deterministic order ``(pair_count DESC, pair ASC)``
    — exactly the statistic a BPE trainer maximizes per merge (no
    end-of-word marker; symbols are single characters, i.e. the first
    iteration).

    The pair generation runs on the DISTINCT-word table: one
    corpus-token shuffle for word counts, then O(vocab × word_len) pair
    work — the corpus never re-tokenizes per iteration.  ``substring``
    is 1-based in both engines, so ``substring(w, i, 2)`` for
    ``i ∈ [1, len−1]`` is the shared pair enumeration; the generator
    input guards the single-character case explicitly (Spark's
    ``sequence(1, 0)`` is ``[1, 0]``, not empty).
    """
    words = (
        df.select(F.explode(_tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("_wc"))
    )
    pairs = words.select(
        F.col("_wc"),
        F.explode(
            F.when(
                F.length("w") > 1,
                F.expr(
                    "transform(sequence(1, length(w) - 1), "
                    "i -> substring(w, i, 2))"
                ),
            ).otherwise(F.expr("CAST(array() AS array<string>)"))
        ).alias("pair"),
    )
    counts = pairs.groupBy("pair").agg(
        F.sum("_wc").cast("long").alias("pair_count")
    )
    return counts.orderBy(
        F.desc("pair_count"), F.asc("pair")
    ).limit(top_n)


def bpe_merge_pairs_sql(
    top_n: int = 50,
    table: str = "documents",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`bpe_merge_pairs` — same tokenization, the
    same 1-based ``substr(w, i, 2)`` enumeration (``generate_series(1,
    0)`` IS empty in DuckDB, so no guard needed), BIGINT counts, and
    (count DESC, pair ASC) top-n."""
    norm = tx.NORMALIZE_SQL.format(c=text_col)
    return (
        "WITH toks AS (SELECT "
        f"list_filter(string_split({norm}, ' '), t -> t <> '') AS ts "
        f"FROM {table}), "
        "words AS (SELECT f AS w, CAST(count(*) AS BIGINT) AS wc "
        "FROM toks, LATERAL UNNEST(ts) AS u(f) GROUP BY f), "
        "pairs AS (SELECT p AS pair, CAST(SUM(wc) AS BIGINT) AS "
        "pair_count FROM words, LATERAL UNNEST(list_transform("
        "generate_series(1, len(w) - 1), i -> substr(w, i, 2))) AS v(p) "
        "GROUP BY p) "
        "SELECT pair, pair_count FROM pairs "
        f"ORDER BY pair_count DESC, pair LIMIT {top_n}"
    )


# ---------------------------------------------------------------------------
# BPE trainer + encoder
# ---------------------------------------------------------------------------

def _merge_apply(ss: Column, left: str, right: str) -> Column:
    """Apply ONE BPE merge to a symbol array, leftmost-non-overlapping.

    The canonical greedy semantics every BPE implementation shares
    (Sennrich et al.'s ``re.sub`` scan): walk left to right, merge each
    ``(left, right)`` adjacency, and resume AFTER the merged token —
    so ``aaaa`` under ``(a, a)`` becomes ``[aa, aa]``, not three
    overlapping merges.  Expressed as a single ``aggregate`` stack
    fold (JVM-side, no Python): append each symbol, except when the
    stack top is ``left`` and the symbol is ``right`` — then replace
    the top with the merged token.  A merged token equals
    ``left || right``, which can itself be the ``left`` of a LATER
    merge but never re-triggers the current one mid-scan, exactly
    matching the reference semantics (pinned against a pure-Python
    model in ``tests/test_selection.py``).
    """
    return F.aggregate(
        ss,
        F.expr("CAST(array() AS array<string>)"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1),
                F.array(F.lit(left + right)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_vocab(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The ``(w, _wc, ss)`` vocabulary frame the BPE encoder runs the
    merge chain over: distinct corpus words with BIGINT counts and the
    character-split symbol array.  ONE corpus-token shuffle; everything
    downstream is Heaps'-law vocabulary-sized."""
    return (
        df.select(F.explode(_tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("_wc"))
        .select("w", "_wc", F.split("w", "").alias("ss"))
    )


#: Driver-side vocabulary ceiling for :func:`bpe_train` — Heaps' law
#: keeps real-corpus vocabularies far under this, but a pathological
#: input (e.g. random hex blobs) must fail loudly before a collect, not
#: OOM the driver.
_LOCAL_VOCAB_CAP = 5_000_000


def bpe_train(
    df: DataFrame,
    n_merges: int = 4,
    text_col: str = "text",
) -> list:
    """Fit ``n_merges`` BPE merges (Sennrich et al., arXiv:1508.07909):
    one distributed word-count pass, then the whole merge loop on the
    driver-resident vocabulary.

    A real tokenizer fits 10⁴–10⁵ merges over a Heaps'-law vocabulary,
    so every production trainer (subword-nmt, HuggingFace tokenizers,
    sentencepiece) distributes ONLY the word count and runs the merge
    loop over the collected ``(word, count)`` table: the corpus is
    touched exactly once, and the Spark job count does not grow with
    ``n_merges`` (test-pinned).  Running each merge as Spark jobs
    (pair-count groupBy, 1-row argmax collect, merge fold over a
    persisted vocabulary) pays job round trips per merge: measured at
    sf0.1, 22 jobs for 4 merges against 2.  The collect is bounded by
    ``_LOCAL_VOCAB_CAP`` (fail-fast, 5 M distinct words — far above
    Heaps'-law vocabularies, far below driver OOM).

    Each merge is the argmax pair under the total order ``(count DESC,
    lhs ASC, rhs ASC)``, applied leftmost-non-overlapping (the
    :func:`_merge_apply` semantics the encoder replays), so the DuckDB
    twin :func:`bpe_train_sql` returns the same list.  Returns the
    ranked merge list ``[(rank, lhs, rhs, count), ...]``, stopping early
    if the vocabulary runs out of pairs.

    The loop is INCREMENTAL (the subword-nmt architecture): pair stats
    live in a dict with a lazy-deletion max-heap for the argmax, and
    each merge touches only the words that CONTAIN the merged pair
    (an inverted pair→words index), applying count deltas from that
    word's before/after pair multisets.  A naive full recount per
    iteration is O(n_merges × Σ|word|) — measured unusable at the
    10⁴–10⁵ merges a production tokenizer fits over a realistic
    vocabulary — where the incremental loop's per-merge cost is the
    total length of affected words only (equality with the naive loop
    is hypothesis-pinned in ``tests/test_selection.py``).
    """
    cap = _LOCAL_VOCAB_CAP
    counted = (
        df.select(F.explode(_tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("wc"))
    )
    rows = counted.limit(cap + 1).collect()
    if len(rows) > cap:
        raise ValueError(
            f"bpe_train: vocabulary exceeds {cap} distinct words, more "
            "than the driver-side merge loop may collect"
        )
    words = {r["w"]: int(r["wc"]) for r in rows}
    return _bpe_merge_loop(words, int(n_merges))


def _bpe_merge_loop(
    words: dict, n_merges: int
) -> list[tuple[int, str, str, int]]:
    """The driver-resident incremental merge loop over a ``word →
    count`` table (see :func:`bpe_train`)."""
    import heapq
    from collections import Counter

    vocab = {w: list(w) for w in words}

    def word_pairs(ss: list) -> Counter:
        return Counter(zip(ss, ss[1:]))

    pairs: dict[tuple[str, str], int] = {}
    occ: dict[tuple[str, str], set] = {}
    for w, c in words.items():
        for p, k in word_pairs(vocab[w]).items():
            pairs[p] = pairs.get(p, 0) + k * c
            occ.setdefault(p, set()).add(w)
    # heap key (-count, lhs, rhs) == the trainer's total order
    # (count DESC, lhs ASC, rhs ASC); stale entries are skipped by
    # re-checking against the live dict (lazy deletion)
    heap = [(-cnt, l, r) for (l, r), cnt in pairs.items()]
    heapq.heapify(heap)
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        best = None
        while heap:
            negc, l, r = heap[0]
            if pairs.get((l, r), 0) == -negc:
                best = (l, r, -negc)
                break
            heapq.heappop(heap)
        if best is None:
            break
        lhs, rhs, cnt = best
        merges.append((rank, lhs, rhs, cnt))
        merged = lhs + rhs
        for w in list(occ.get((lhs, rhs), ())):
            c = words[w]
            ss = vocab[w]
            old = word_pairs(ss)
            out: list = []
            i = 0
            while i < len(ss):
                if (
                    i + 1 < len(ss)
                    and ss[i] == lhs
                    and ss[i + 1] == rhs
                ):
                    out.append(merged)
                    i += 2
                else:
                    out.append(ss[i])
                    i += 1
            vocab[w] = out
            new = word_pairs(out)
            for p in set(old) | set(new):
                d = new.get(p, 0) - old.get(p, 0)
                if new.get(p, 0) > 0:
                    occ.setdefault(p, set()).add(w)
                else:
                    s = occ.get(p)
                    if s is not None:
                        s.discard(w)
                if d:
                    nv = pairs.get(p, 0) + d * c
                    if nv > 0:
                        pairs[p] = nv
                        heapq.heappush(heap, (-nv, p[0], p[1]))
                    else:
                        pairs.pop(p, None)
        # the greedy application removes every (lhs, rhs) adjacency, so
        # its live count is now zero in every touched word
        pairs.pop((lhs, rhs), None)
        occ.pop((lhs, rhs), None)
    return merges


#: Arrow/parquet schema of the persisted BPE merge table — the tokenizer
#: ARTIFACT a training pipeline ships from the fit job to every encode
#: job (the role of HuggingFace's merges.txt / sentencepiece's .model).
BPE_MERGES_SCHEMA = "merge_rank int, lhs string, rhs string, pair_count long"


def bpe_save(merges: list, path: str, spark) -> None:
    """Persist a fitted merge list (:func:`bpe_train` output) as a
    parquet merge table — the tokenizer artifact contract: training runs
    ONCE, the merge table ships to every downstream encode job
    (:func:`bpe_load` → :func:`bpe_encode_len`).

    Parquet rather than a text sidecar so the artifact is (a) readable
    by any engine including the DuckDB oracle, (b) schema-checked on
    load, and (c) a one-file broadcast at any realistic merge count
    (10⁵ merges ≈ a few MB).  Round-trip exactness is test-pinned
    (``test_bpe_save_load_roundtrip``); OOV words at encode time need
    nothing from the artifact — the encoder char-splits every word of
    the text it encodes and replays the merge chain over it, so a merge
    table alone fully determines the encoding of ANY text.
    """
    rows = [
        (int(m[0]), str(m[1]), str(m[2]), int(m[3])) for m in merges
    ]
    local_df(spark, rows, BPE_MERGES_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)


def bpe_load(path: str, spark) -> list:
    """Load a :func:`bpe_save` artifact back into the ranked merge list.

    Fails loudly on a corrupt artifact rather than silently mis-encoding:
    ranks must be exactly ``1..n`` with no gaps or duplicates (merge
    ORDER is the tokenizer — a silently reordered or truncated table
    would change every downstream encoding), and symbols must be
    non-empty non-NULL strings.  The collect is bounded by the merge
    count (a driver-resident artifact by construction, like IVF
    centroids)."""
    rows = spark.read.parquet(path).orderBy("merge_rank").collect()
    merges = []
    for i, r in enumerate(rows, start=1):
        if r["merge_rank"] != i:
            raise ValueError(
                f"bpe_load: corrupt merge table at {path!r} — rank "
                f"sequence broken at position {i} (got {r['merge_rank']})"
            )
        if not r["lhs"] or not r["rhs"]:
            raise ValueError(
                f"bpe_load: corrupt merge table at {path!r} — empty or "
                f"NULL symbol at rank {i}"
            )
        merges.append(
            (i, r["lhs"], r["rhs"], int(r["pair_count"]))
        )
    return merges


def _merge_chain(frame: DataFrame, merges: list) -> DataFrame:
    """Apply a fitted merge list (``(rank, lhs, rhs, …)`` tuples or
    bare ``(lhs, rhs)`` pairs, in rank order) to a ``(w, _wc, ss)``
    vocabulary frame."""
    for m in merges:
        lhs, rhs = (m[1], m[2]) if len(m) >= 3 else (m[0], m[1])
        frame = frame.select(
            "w", "_wc", _merge_apply(F.col("ss"), lhs, rhs).alias("ss")
        )
    return frame


def _doc_token_counts(
    df: DataFrame,
    lens: DataFrame,
    n_col: str,
    id_col: str,
    text_col: str,
    staged: bool = False,
    sum_col: str = "n_tokens",
) -> DataFrame:
    """``(id, n_tokens)`` — the counting tail every tokenizer encoder
    shares: explode each document's word tokens, join them to ``lens``
    ``(w, n_col)`` (tokens per distinct word — Heaps'-law-sized, AQE
    broadcasts it when it fits), sum per document, and left-join back
    so a document whose text yields no words keeps a 0 row (the
    packing feed stays total over the input).

    ``staged`` tokenizes in a projection of its own before the explode
    (the BPE encoder's plan) instead of inside it (the unigram
    encoders'); ``sum_col`` names the per-document sum before the
    coalesce.  Both only keep each encoder's existing plan."""
    if staged:
        doc_words = df.select(
            F.col(id_col), _tokens(text_col).alias("_ts")
        ).select(F.col(id_col), F.explode("_ts").alias("w"))
    else:
        doc_words = df.select(
            F.col(id_col), F.explode(_tokens(text_col)).alias("w")
        )
    agg = (
        doc_words.join(lens, "w")
        .groupBy(id_col)
        .agg(F.sum(n_col).cast("long").alias(sum_col))
    )
    return (
        df.select(id_col)
        .join(agg, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col(sum_col), F.lit(0).cast("long")).alias(
                "n_tokens"
            ),
        )
    )


def bpe_encode_len(
    df: DataFrame,
    merges: list,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document BPE token counts under a fitted merge list.

    Applies ``merges`` (``(rank, lhs, rhs, ...)`` tuples or bare
    ``(lhs, rhs)`` pairs, in rank order) to ``df``'s own vocabulary
    (:func:`bpe_vocab`, every word char-split, so words the trainer
    never saw encode too) with the :func:`_merge_apply` chain — the
    same greedy application the trainer performed — then counts tokens
    per document: one corpus-token explode joined against the ``(word →
    encoded length)`` table, summed per document.  Documents with zero
    tokens keep a 0 row, so the output feeds
    ``packing.pack_documents``'s token budget directly.
    """
    enc = _merge_chain(bpe_vocab(df, text_col), merges)
    lens = enc.select("w", F.size("ss").cast("long").alias("_ntok"))
    return _doc_token_counts(
        df, lens, "_ntok", id_col, text_col, staged=True, sum_col="_sum"
    )


def _bpe_iter_ctes(n_merges: int, first: str = "w0") -> str:
    """Unrolled per-iteration CTE chain ``c1,b1,w1,…,cN,bN,wN`` from a
    ``(w, wc, ss)`` vocabulary CTE named ``first``.

    Each iteration: pair counts over 1-based adjacent indices
    (``range(1, len(ss))`` — empty for single-symbol words in both
    engines), a 1-row argmax pick, and the leftmost-non-overlapping
    merge application — match positions ``m``, then the greedy keep
    set via the consecutive-run parity closed form (positions of one
    maximal run share ``m[j] − j``; keep even offsets), then rebuild
    the symbol list dropping each kept position's right neighbour.
    The parity form and Spark's stack fold (:func:`_merge_apply`)
    compute the same greedy scan — pinned by the cross-engine tests.
    """
    out = []
    prev = first
    for k in range(1, int(n_merges) + 1):
        out.append(
            f"c{k} AS (SELECT ss[i] AS l, ss[i+1] AS r, "
            "CAST(SUM(wc) AS BIGINT) AS cnt "
            f"FROM {prev}, UNNEST(range(1, len(ss))) u(i) "
            "GROUP BY 1, 2), "
            # exhaustion-safe argmax: when cK is empty (the vocabulary
            # ran out of pairs), fall back to a sentinel pair whose left
            # symbol is the empty string — impossible as a real symbol
            # (tokens are non-empty, chars are non-empty), so the merge
            # application below matches nothing and wK passes through
            # unchanged, mirroring the Spark trainer's early stop
            # instead of cross-joining every later stage empty.
            f"b{k} AS (SELECT * FROM (SELECT l, r, cnt FROM c{k} "
            "ORDER BY cnt DESC, l, r LIMIT 1) "
            "UNION ALL SELECT '', '', CAST(0 AS BIGINT) "
            f"WHERE NOT EXISTS (SELECT 1 FROM c{k})), "
            f"w{k} AS (SELECT w, wc, "
            "list_filter(list_transform(range(1, len(ss)+1), "
            "i -> CASE WHEN list_contains(kept, i) THEN l || r "
            "WHEN list_contains(kept, i - 1) THEN NULL "
            "ELSE ss[i] END), x -> x IS NOT NULL) AS ss "
            "FROM (SELECT w, wc, ss, l, r, "
            "[m[j] for j in range(1, len(m)+1) "
            "if len([jj for jj in range(1, j) "
            "if m[jj] - jj = m[j] - j]) % 2 = 0] AS kept "
            "FROM (SELECT v.w, v.wc, v.ss, b.l, b.r, "
            "[i for i in range(1, len(v.ss)) "
            "if v.ss[i] = b.l AND v.ss[i+1] = b.r] AS m "
            f"FROM {prev} v, b{k} b)))"
        )
        prev = f"w{k}"
    return ", ".join(out)


def _bpe_vocab_cte(table: str, text_col: str) -> str:
    """``toks`` + ``w0`` CTEs: the DuckDB twin of :func:`bpe_vocab`."""
    norm = tx.NORMALIZE_SQL.format(c=text_col)
    return (
        "toks AS (SELECT "
        f"list_filter(string_split({norm}, ' '), t -> t <> '') AS ts "
        f"FROM {table}), "
        "w0 AS (SELECT f AS w, CAST(count(*) AS BIGINT) AS wc, "
        "string_split(f, '') AS ss "
        "FROM toks, LATERAL UNNEST(ts) AS u(f) GROUP BY f)"
    )


def bpe_train_sql(
    n_merges: int = 4,
    table: str = "documents",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`bpe_train` — the same vocabulary, the N
    unrolled iteration CTEs, and a UNION of the per-iteration argmax
    picks as ``(merge_rank, lhs, rhs, pair_count)``.  Assumes the
    vocabulary exhausting its pairs before ``n_merges`` is handled the
    way the Spark trainer's early stop is: exhausted iterations emit a
    sentinel no-match pair internally and are filtered from the output,
    so both sides return the same shortened merge list."""
    ctes = _bpe_vocab_cte(table, text_col)
    arms = " UNION ALL ".join(
        f"SELECT CAST({k} AS INT) AS merge_rank, l AS lhs, r AS rhs, "
        f"cnt AS pair_count FROM b{k} WHERE l <> ''"
        for k in range(1, int(n_merges) + 1)
    )
    return (
        f"WITH {ctes}, {_bpe_iter_ctes(n_merges)} "
        f"SELECT * FROM ({arms}) ORDER BY merge_rank"
    )


def bpe_encode_len_ctes(
    n_merges: int = 4,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """The train+encode CTE chain, ending in ``encoded`` =
    ``(id, n_tokens)`` — exposed separately so composed oracles (e.g.
    the BPE-budget packing pipeline) can chain further stages onto it
    the way ``pipe3``/``pipe4`` chain their stages' proven blocks."""
    ctes = _bpe_vocab_cte(table, text_col)
    n = int(n_merges)
    norm = tx.NORMALIZE_SQL.format(c=text_col)
    return (
        f"{ctes}, {_bpe_iter_ctes(n)}, "
        f"enc AS (SELECT w, CAST(len(ss) AS BIGINT) AS ntok FROM w{n}), "
        f"dt AS (SELECT {id_col}, f AS w FROM (SELECT {id_col}, "
        f"list_filter(string_split({norm}, ' '), t -> t <> '') AS ts "
        f"FROM {table}), LATERAL UNNEST(ts) AS u(f)), "
        f"agg AS (SELECT dt.{id_col}, CAST(SUM(e.ntok) AS BIGINT) AS s "
        f"FROM dt JOIN enc e USING (w) GROUP BY dt.{id_col}), "
        f"encoded AS (SELECT d.{id_col}, COALESCE(a.s, 0) AS n_tokens "
        f"FROM {table} d LEFT JOIN agg a USING ({id_col}))"
    )


def bpe_encode_len_sql(
    n_merges: int = 4,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`bpe_train` → :func:`bpe_encode_len` — the
    same unrolled training chain, then per-document token counts from
    the final encoded vocabulary (zero-token documents keep a 0 row)."""
    ctes = bpe_encode_len_ctes(n_merges, table, text_col, id_col)
    return f"WITH {ctes} SELECT {id_col}, n_tokens FROM encoded"


# ---------------------------------------------------------------------------
# unigram-LM Viterbi segmentation (the SentencePiece inference pass)
# ---------------------------------------------------------------------------


def unigram_viterbi(
    df: DataFrame,
    text_col: str = "text",
    max_piece_len: int = 4,
    min_count: int = 2,
    scale: int = 1_000_000,
) -> DataFrame:
    """Unigram-LM subword segmentation (Kudo, arXiv:1804.10959 — the
    SentencePiece unigram model's Viterbi inference): build a piece
    inventory from the corpus's own substring statistics, score each
    piece by its corpus log-frequency, and segment every DISTINCT word
    into the maximum-likelihood piece sequence by dynamic programming.
    The BPE family (tok3–tok6) covers the merge-based tokenizer; this is
    the other production tokenizer family, and unlike BPE its inference
    is a per-word DP, not a greedy merge replay.

    Inventory: every substring of length 1..``max_piece_len`` of every
    corpus word, counted weighted by word frequency; pieces of length
    ≥ 2 must reach ``min_count`` (noise floor), single characters are
    ALWAYS kept so every word stays segmentable (no OOV path — the
    inventory is built from the same corpus it segments).  Piece score
    ``lp = floor((ln(c) − ln(T)) · scale)`` with ``T`` the kept
    inventory's total count — exact BIGINTs into the one libm-trusted
    ``ln``, so the whole DP runs on integers and carries a value-level
    DuckDB oracle (:func:`unigram_viterbi_sql`).

    Viterbi: ``dp[i] = max over piece (j, i]`` of ``dp[j] + lp(piece)``,
    ties → the LONGEST last piece (both engines maximize the struct
    ``(score, piece_len)``).  The whole DP — forward pass AND
    backtrack — is TWO ``aggregate`` higher-order functions over the
    word's character positions: plain Catalyst expressions, no Python,
    no unrolled plan (iteration count is runtime data), evaluated in
    one projection over the Heaps'-law distinct-word frame.  The DP
    array and the piece map are staged as attributes in their own
    projections first (the lambda-recompute trap,
    ``dedup.shingles_of_words``).

    Returns ``(word, wc, n_pieces, seg, score_micro)``: corpus
    frequency, piece count, the segmentation joined with spaces, and
    the winning path's total log-score.

    Plan shape (100 TB): one corpus-token shuffle into the distinct-word
    frame (the ``bpe_vocab`` contract), then everything is
    vocabulary-sized — the span explode (×len×L), the piece-count
    groupBy, one gram-keyed join of word-pieces against the scored
    inventory, one map-building groupBy, and a zero-shuffle DP
    projection.  The corpus text is never touched again after the word
    count; no state reaches the driver.
    """
    from nlp_to_nosql_spark.plans.caching import persisted

    if max_piece_len < 1:
        raise ValueError("unigram_viterbi: max_piece_len must be >= 1")
    L = int(max_piece_len)

    words = persisted(
        df.select(F.explode(_tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("wc")),
        "tokens",
    )

    staged = words.select("w", "wc", _spans_arr(F.col("w"), L).alias("_sp"))
    counts = (
        staged.select("wc", F.explode("_sp").alias("piece"))
        .groupBy("piece")
        .agg(F.sum("wc").cast("long").alias("c"))
    )
    kept = counts.filter(
        (F.length("piece") == 1) | (F.col("c") >= int(min_count))
    )
    tot = kept.agg(F.sum("c").cast("long").alias("_t"))
    lp = kept.crossJoin(F.broadcast(tot)).select(
        "piece",
        F.floor(
            (F.log(F.col("c").cast("double")) - F.log(F.col("_t").cast("double")))
            * F.lit(float(scale))
        ).cast("long").alias("lp"),
    )

    walked = _viterbi_segment(staged, lp, L)
    return walked.select(
        F.col("w").alias("word"),
        "wc",
        F.size(F.col("_wk").getField("ps")).cast("long").alias("n_pieces"),
        F.array_join(F.col("_wk").getField("ps"), " ").alias("seg"),
        F.element_at(F.col("_dp"), F.length("w") + 1)
        .getField("s")
        .alias("score_micro"),
    )


def _spans_arr(wcol: Column, L: int) -> Column:
    """All substrings of length 1..L of a word column, position-major —
    the unigram-family inventory enumeration (tok7/tok8)."""
    ln = F.length(wcol)
    return F.flatten(
        F.transform(
            F.sequence(F.lit(1), ln),
            lambda j: F.transform(
                F.sequence(F.lit(1), F.least(F.lit(L), ln - j + 1)),
                lambda l: wcol.substr(j, l),
            ),
        )
    )


def _viterbi_segment(staged: DataFrame, lp: DataFrame, L: int) -> DataFrame:
    """Maximum-likelihood segmentation of every word under a piece-score
    table — the tok7 DP factored out so the EM trainer (tok8) can run
    it once per iteration against evolving scores.

    ``staged`` is ``(w, wc, _sp)`` (word, count, substring inventory
    as an attribute); ``lp`` is ``(piece, lp)`` BIGINT scores and MUST
    contain every single character of every word (the segmentability
    guarantee).  Ties maximize the ``(score, piece_len)`` struct —
    longest last piece, identically in the DuckDB twins.  Returns
    ``(w, wc, _dp, _wk)`` with ``_wk.ps`` the winning piece list."""

    wp = (
        staged.select("w", F.explode(F.array_distinct("_sp")).alias("piece"))
        .join(lp, "piece")
        .groupBy("w")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("piece"), F.col("lp")))
            ).alias("m")
        )
    )
    frame = staged.select("w", "wc").join(wp, "w")

    def _dp_col(wcol: Column, m: Column) -> Column:
        def step(acc, i):
            cands = []
            for off in range(1, L + 1):
                j = i - F.lit(off)
                s = F.when(
                    j >= 0,
                    F.element_at(acc, (j + F.lit(1)).cast("int")).getField("s")
                    + F.element_at(m, wcol.substr(j + 1, F.lit(off))),
                )
                cands.append(
                    F.struct(
                        s.alias("s"), F.lit(off).cast("int").alias("plen")
                    )
                )
            best = F.array_max(
                F.filter(
                    F.array(*cands), lambda c: c.getField("s").isNotNull()
                )
            )
            return F.concat(
                acc,
                F.array(
                    F.struct(
                        best.getField("s").alias("s"),
                        (i - best.getField("plen")).cast("int").alias("bp"),
                    )
                ),
            )

        return F.aggregate(
            F.sequence(F.lit(1), F.length(wcol)),
            F.array(
                F.struct(
                    F.lit(0).cast("long").alias("s"),
                    F.lit(0).cast("int").alias("bp"),
                )
            ),
            step,
        )

    with_dp = frame.select(
        "w", "wc", _dp_col(F.col("w"), F.col("m")).alias("_dp")
    )

    def _walk_col(wcol: Column, dp: Column) -> Column:
        ln = F.length(wcol)

        def step(acc, _):
            pos = acc.getField("pos")
            bp = F.element_at(dp, pos + F.lit(1)).getField("bp")
            return F.when(
                pos > 0,
                F.struct(
                    bp.alias("pos"),
                    F.concat(
                        F.array(wcol.substr(bp + 1, pos - bp)),
                        acc.getField("ps"),
                    ).alias("ps"),
                ),
            ).otherwise(acc)

        return F.aggregate(
            F.sequence(F.lit(1), ln),
            F.struct(
                ln.cast("int").alias("pos"),
                F.array().cast("array<string>").alias("ps"),
            ),
            step,
        )

    return with_dp.select(
        "w", "wc", "_dp", _walk_col(F.col("w"), F.col("_dp")).alias("_wk")
    )


def unigram_viterbi_ctes(
    max_piece_len: int = 4,
    min_count: int = 2,
    scale: int = 1_000_000,
    table: str = "documents",
    text_col: str = "text",
) -> str:
    """The recursive CTE chain of :func:`unigram_viterbi_sql` WITHOUT
    the ``WITH RECURSIVE`` keyword or final select — ends at ``fin``
    (per-word scores/backpointers) and ``seg`` (per-word piece list),
    so composed pipelines (pipe9) can append their own CTEs."""
    norm = tx.NORMALIZE_SQL.format(c=f"COALESCE({text_col}, '')")
    L, mc = int(max_piece_len), int(min_count)
    return (
        "toks AS (SELECT "
        f"list_filter(string_split({norm}, ' '), t -> t <> '') AS ts "
        f"FROM {table}), "
        "words AS (SELECT f AS w, CAST(count(*) AS BIGINT) AS wc "
        "FROM toks, LATERAL UNNEST(ts) AS u(f) GROUP BY f), "
        "spans AS (SELECT w, wc, j, l, substr(w, j, l) AS piece "
        "FROM words, LATERAL UNNEST(generate_series(1, len(w))) AS a(j), "
        f"LATERAL UNNEST(generate_series(1, least({L}, len(w) - j + 1))) "
        "AS b(l)), "
        "counts AS (SELECT piece, CAST(SUM(wc) AS BIGINT) AS c "
        "FROM spans GROUP BY piece), "
        "kept AS (SELECT piece, c FROM counts "
        f"WHERE length(piece) = 1 OR c >= {mc}), "
        "tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM kept), "
        "lp AS (SELECT piece, CAST(FLOOR((ln(CAST(c AS DOUBLE)) - "
        f"ln(CAST(t AS DOUBLE))) * {int(scale)}) AS BIGINT) AS lp "
        "FROM kept CROSS JOIN tot), "
        "wp AS (SELECT DISTINCT s.w, s.j, s.l, lp.lp "
        "FROM spans s JOIN lp USING (piece)), "
        "cand AS (SELECT w, j + l - 1 AS i, "
        "list({'j': j - 1, 'lp': lp, 'plen': l}) AS cs "
        "FROM wp GROUP BY w, j + l - 1), "
        "dp AS ("
        "SELECT w, wc, len(w) AS ln, 0 AS i, [CAST(0 AS BIGINT)] AS ss, "
        "[0] AS bps FROM words "
        "UNION ALL "
        "SELECT w, wc, ln, i, list_append(ss, best['s']), "
        "list_append(bps, best['bp']) FROM ("
        "SELECT d.w, d.wc, d.ln, d.i + 1 AS i, d.ss AS ss, d.bps AS bps, "
        "list_sort([{'s': d.ss[x.j + 1] + x.lp, 'plen': x.plen, "
        "'bp': x.j} for x in c.cs], 'DESC')[1] AS best "
        "FROM dp d JOIN cand c ON c.w = d.w AND c.i = d.i + 1 "
        "WHERE d.i < d.ln)), "
        "fin AS (SELECT w, wc, ln, ss, bps FROM dp WHERE i = ln), "
        "back AS ("
        "SELECT w, ln AS pos, bps, CAST([] AS VARCHAR[]) AS ps FROM fin "
        "UNION ALL "
        "SELECT w, bps[pos + 1], bps, "
        "list_prepend(substr(w, bps[pos + 1] + 1, pos - bps[pos + 1]), ps) "
        "FROM back WHERE pos > 0), "
        "seg AS (SELECT w, ps FROM back WHERE pos = 0)"
    )


def unigram_viterbi_sql(
    max_piece_len: int = 4,
    min_count: int = 2,
    scale: int = 1_000_000,
    table: str = "documents",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`unigram_viterbi` — the same inventory,
    the same integer-micro piece scores, and the SAME DP expressed as
    two recursive CTEs: the forward pass carries the growing
    ``(scores, backpointers)`` lists per word (each iteration appends
    position ``i`` from a per-(word, i) candidate list, maximizing the
    ``{s, plen}`` struct exactly like the Spark ``array_max``), the
    backtrack walks the finished backpointer list.  Recursion depth =
    max word length, not corpus size."""
    return (
        "WITH RECURSIVE "
        + unigram_viterbi_ctes(max_piece_len, min_count, scale, table, text_col)
        + " SELECT f.w AS word, f.wc, CAST(len(s.ps) AS BIGINT) AS n_pieces, "
        "array_to_string(s.ps, ' ') AS seg, f.ss[f.ln + 1] AS score_micro "
        "FROM fin f JOIN seg s USING (w)"
    )


def unigram_encode_len(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_piece_len: int = 4,
    min_count: int = 2,
) -> DataFrame:
    """Per-document token counts under the fitted unigram-LM tokenizer —
    the packing feed (``bpe_encode_len``'s twin for the tok7 family):
    segment every DISTINCT word once (:func:`unigram_viterbi`, the
    Heaps'-law frame), then one corpus-token explode joins each word
    occurrence to its piece count and one per-doc sum emits
    ``(id, n_tokens)``.  Documents whose text yields no words (the
    tokenizer drops empty tokens) count 0, keeping the mapping total.
    Same two-exchange shape as the BPE encoder: one corpus-token
    shuffle, one vocabulary-keyed join."""
    seg = unigram_viterbi(
        df, text_col, max_piece_len=max_piece_len, min_count=min_count
    ).select(F.col("word").alias("w"), "n_pieces")
    return _doc_token_counts(df, seg, "n_pieces", id_col, text_col)


def unigram_train(
    df: DataFrame,
    text_col: str = "text",
    max_piece_len: int = 4,
    min_count: int = 2,
    n_iters: int = 2,
    max_pieces: int | None = None,
    scale: int = 1_000_000,
) -> DataFrame:
    """Unigram-LM tokenizer TRAINER (Kudo, arXiv:1804.10959 §3.2 —
    the SentencePiece unigram training loop): seed a substring
    inventory, then alternate (E) maximum-likelihood segmentation of
    every word under the current piece scores and (M) re-estimating
    piece scores from their use counts, pruning pieces the
    segmentations stop using — ``tok7``
    (:func:`unigram_viterbi`) is this model's INFERENCE pass over the
    seed scores; this is what :func:`bpe_train` (tok4) is to the BPE
    encoder.  The E-step is the hard (Viterbi) variant of Kudo's EM:
    each word's single best segmentation contributes its counts —
    every quantity stays an exact BIGINT, so the whole unrolled loop
    carries a value-level DuckDB oracle (:func:`unigram_train_sql`)
    where expected-count (soft) EM would put corpus-sized float sums
    between the engines.

    Per iteration: scores are ``lp = floor((ln(c + 1) − ln(T + m)) ·
    scale)`` (add-one over the kept inventory of size ``m`` with total
    count ``T`` — a piece can legitimately fall to 0 uses, and its
    score must stay finite for the next E-step); segmentation is
    :func:`_viterbi_segment` (ties → longest piece, both engines);
    new counts are ``c'(p) = Σ_w wc(w) · uses(p, seg(w))``.  Pruning:
    multi-char pieces with 0 uses drop; if ``max_pieces`` is set, only
    the top ``max_pieces`` multi-char pieces by ``(c' DESC, piece
    ASC)`` survive (Kudo's prune-to-target-vocab axis, made exact);
    single characters are ALWAYS kept (coalesced to 0 uses) so every
    word stays segmentable in every iteration.

    Returns the FINAL inventory ``(piece, c, lp_micro)`` — use counts
    from the last E-step and scores from the last M-step (the
    artifact a packing/encode pass consumes).

    Plan shape (100 TB): one corpus-token shuffle into the Heaps'-law
    distinct-word frame, then ``n_iters`` unrolled rounds of
    vocabulary-sized work — the span explode, the piece-keyed join,
    the map-building groupBy, the zero-shuffle DP projection, and a
    use-count groupBy; the corpus text is never touched after the
    word count (the BPE-trainer contract), and no driver-side DATA
    state accumulates (``n_iters`` is a constant).  The loop is NOT
    lazy: each iteration ends in ``localCheckpoint(eager=True)`` —
    Spark jobs run at plan-construction time — because the unrolled
    lineage's repeated Catalyst re-analysis dominated wall time
    (15.4 → 7.7 s at sf0.1, the A/B at the loop below).  The trade
    is non-replayable lineage on executor loss; each checkpoint is
    ≤ (alphabet + max_pieces) rows, re-derivable by re-running the
    fit.
    """
    from nlp_to_nosql_spark.plans.caching import persisted

    if max_piece_len < 1:
        raise ValueError("unigram_train: max_piece_len must be >= 1")
    if n_iters < 1:
        raise ValueError("unigram_train: n_iters must be >= 1")
    L = int(max_piece_len)

    words = persisted(
        df.select(F.explode(_tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("wc")),
        "tokens",
    )
    staged = persisted(
        words.select("w", "wc", _spans_arr(F.col("w"), L).alias("_sp")),
        "tokens",
    )
    counts = (
        staged.select("wc", F.explode("_sp").alias("piece"))
        .groupBy("piece")
        .agg(F.sum("wc").cast("long").alias("c"))
    )
    chars = persisted(
        counts.filter(F.length("piece") == 1).select("piece"), "tokens"
    )
    kept = counts.filter(
        (F.length("piece") == 1) | (F.col("c") >= int(min_count))
    )

    def _score(inv: DataFrame) -> DataFrame:
        tot = inv.agg(
            F.sum("c").cast("long").alias("_t"),
            F.count(F.lit(1)).cast("long").alias("_m"),
        )
        return inv.crossJoin(F.broadcast(tot)).select(
            "piece",
            F.floor(
                (
                    F.log((F.col("c") + 1).cast("double"))
                    - F.log((F.col("_t") + F.col("_m")).cast("double"))
                )
                * F.lit(float(scale))
            ).cast("long").alias("lp"),
        )

    # Each iteration's inventory is multi-referenced (the score agg,
    # the score crossJoin, the next E-step's piece join) AND every
    # iteration deepens the plan tree.  ``localCheckpoint(eager=True)``
    # — the GraphX/ALS iterative-algorithm idiom — both caches the
    # vocabulary-sized frame and TRUNCATES its lineage, so downstream
    # analysis (the next iteration's persist/aggregate, pipe11's
    # prefix-sum collect, the final write) re-walks a constant-size
    # leaf instead of the whole unrolled EM chain.  Measured A/B at
    # sf0.1 (r13): 15.4 s (persisted, lazy unrolled) → 7.7 s
    # (checkpointed) warm min — the lazy form's wall time was dominated
    # by repeated giant-tree analysis, not data work (the vocabulary
    # here is Heaps'-law tiny).  Data stays on executors (no driver
    # state); the non-replayable-lineage trade is the standard one for
    # iterative refinement — each checkpoint is ≤ (alphabet +
    # max_pieces) rows, trivially re-derivable by re-running the fit.
    # The INITIAL inventory's checkpoint is LAZY: its tree is shallow
    # (words → spans → counts → filter), so there is no giant-tree
    # re-analysis to avoid, and the first iteration's eager kept job
    # materializes it anyway — one fewer driver action per fit (r15
    # A/B min-of-5: 2.30 → 2.25 s, value-equal inventories).
    kept = kept.localCheckpoint(eager=False)
    for _ in range(int(n_iters)):
        seg = _viterbi_segment(staged, _score(kept), L)
        # 'used' feeds BOTH the multi filter and the chars left-join
        # below; the RDD materialization path the eager checkpoint
        # takes does NOT apply exchange reuse (plan check: 78
        # Exchanges, 1 ReusedExchange in one iteration's kept plan),
        # so without its own checkpoint the iteration's Viterbi DP
        # subtree evaluates twice inside the kept job.  A LAZY
        # checkpoint on the vocabulary-sized (piece, c) aggregate
        # persists it at first materialization (no extra job — the
        # kept checkpoint stays the materializing action), so the DP
        # runs once per iteration and the kept plan shrinks to two
        # scans of a tiny leaf.  A/B at sf0.1 (min-of-5, two rounds):
        # pipe11 4.85→4.72 and 5.78→4.10 s, tok8 3.05→2.74 and
        # 2.78→2.66 s; the eager variant was neutral (its extra
        # per-iteration job cancels the saved DP) — supersedes the
        # r13 2×-DP trade note.
        used = seg.select(
            "wc", F.explode(F.col("_wk").getField("ps")).alias("piece")
        ).groupBy("piece").agg(
            F.sum("wc").cast("long").alias("c")
        ).localCheckpoint(eager=False)
        multi = used.filter(F.length("piece") >= 2)
        if max_pieces is not None:
            w_rank = Window.orderBy(F.col("c").desc(), F.col("piece").asc())
            multi = (
                multi.withColumn("_rk", F.row_number().over(w_rank))
                .filter(F.col("_rk") <= int(max_pieces))
                .drop("_rk")
            )
        kept = (
            chars.join(used, "piece", "left")
            .select(
                "piece", F.coalesce("c", F.lit(0).cast("long")).alias("c")
            )
            .unionByName(multi)
            .localCheckpoint(eager=True)
        )
    return kept.join(_score(kept), "piece").select(
        "piece", "c", F.col("lp").alias("lp_micro")
    )


def unigram_save(inventory: DataFrame, path: str) -> None:
    """Persist a fitted unigram inventory (:func:`unigram_train`
    output ``(piece, c, lp_micro)``) as a parquet artifact — the
    tok8-family tokenizer-artifact contract (:func:`bpe_save`'s shape
    for the unigram tier): the EM runs ONCE, and the vocabulary-sized
    table ships to every downstream encode job.  Writing the artifact
    is ALSO the performance split pipe11 needs: encoding in the same
    plan as the EM carries the whole unrolled-EM lineage into the
    encode/pack stages, where every eager analysis (persist,
    checkpoint, write) re-walks the giant tree; the artifact severs
    that lineage at a ≤ (max_pieces + alphabet)-row table."""
    inventory.select("piece", "c", "lp_micro").coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)


def unigram_load(path: str, spark) -> DataFrame:
    """Load a :func:`unigram_save` artifact, failing loudly on schema
    drift or corrupt rows (the :func:`bpe_load` /
    ``kneser_ney_load`` discipline) — a silently truncated or
    score-shifted inventory would change every downstream
    segmentation.  Validation collects only the ≤ vocabulary-sized
    malformed-row probe, never the corpus."""
    df = spark.read.parquet(path)
    want = {"piece", "c", "lp_micro"}
    if set(df.columns) != want:
        raise ValueError(
            f"unigram_load: artifact at {path!r} has columns "
            f"{sorted(df.columns)}, expected {sorted(want)}"
        )
    bad = df.filter(
        F.col("piece").isNull()
        | (F.length("piece") == 0)
        | F.col("c").isNull()
        | F.col("lp_micro").isNull()
    ).limit(1)
    if bad.count() > 0:
        raise ValueError(
            f"unigram_load: corrupt inventory at {path!r} — empty/NULL "
            "piece or NULL count/score"
        )
    return df.select(
        "piece", F.col("c").cast("long"), F.col("lp_micro").cast("long")
    )


def unigram_encode_len_artifact(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_piece_len: int = 4,
) -> DataFrame:
    """Per-document token counts under a PERSISTED unigram inventory
    (:func:`unigram_save`) — the artifact-consuming encode pass
    (``lm6``/``tok6`` pattern): segment every distinct word once under
    the loaded scores, join token occurrences to piece counts, sum per
    document.  When the artifact came from :func:`unigram_train` over
    the same corpus, the counts equal the DuckDB twin
    :func:`unigram_encode_len_trained_ctes` (EM and encode in one
    chain; the parquet roundtrip is BIGINT-exact), but the encode
    plan's lineage starts at the tiny artifact scan instead of the
    unrolled EM chain.

    Segmentability caveat: the inventory must contain every single
    character occurring in ``df``'s words (guaranteed when the
    training corpus covers the encode corpus's alphabet — the trainer
    always keeps all single chars); a word with an uncovered char has
    no valid DP path and raises at execution.
    """
    from nlp_to_nosql_spark.plans.caching import persisted

    L = int(max_piece_len)
    inv = unigram_load(path, df.sparkSession)
    words = persisted(
        df.select(F.explode(_tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("wc")),
        "tokens",
    )
    staged = words.select("w", "wc", _spans_arr(F.col("w"), L).alias("_sp"))
    seg = _viterbi_segment(
        staged, inv.select("piece", F.col("lp_micro").alias("lp")), L
    ).select(
        "w",
        F.size(F.col("_wk").getField("ps")).cast("long").alias("n_pieces"),
    )
    return _doc_token_counts(df, seg, "n_pieces", id_col, text_col)


def unigram_train_local(
    word_counts: dict,
    max_piece_len: int = 4,
    min_count: int = 2,
    n_iters: int = 2,
    max_pieces: int | None = None,
    scale: int = 1_000_000,
) -> dict:
    """Pure-Python twin of :func:`unigram_train` over a ``{word:
    count}`` frame — the hypothesis pin.  Returns ``{piece: (c,
    lp_micro)}``."""
    import math
    from collections import Counter

    L = int(max_piece_len)
    counts0: Counter = Counter()
    for w, wc in word_counts.items():
        for j in range(len(w)):
            for l in range(1, min(L, len(w) - j) + 1):
                counts0[w[j : j + l]] += wc
    chars = sorted(p for p in counts0 if len(p) == 1)
    kept = {
        p: c
        for p, c in counts0.items()
        if len(p) == 1 or c >= int(min_count)
    }

    def _lp(c: int, t: int, m: int) -> int:
        return math.floor(
            (math.log(c + 1) - math.log(t + m)) * float(scale)
        )

    def _segment(w: str, lp: dict) -> list:
        # dp[i] = (score, backpointer); ties maximize (score, plen)
        dp = [(0, 0)]
        for i in range(1, len(w) + 1):
            best = None
            for plen in range(1, min(L, i) + 1):
                piece = w[i - plen : i]
                if piece in lp and dp[i - plen][0] is not None:
                    s = dp[i - plen][0] + lp[piece]
                    if best is None or (s, plen) > (best[0], best[1]):
                        best = (s, plen)
            dp.append((best[0], i - best[1]))
        ps, pos = [], len(w)
        while pos > 0:
            bp = dp[pos][1]
            ps.insert(0, w[bp:pos])
            pos = bp
        return ps

    for _ in range(int(n_iters)):
        t, m = sum(kept.values()), len(kept)
        lp = {p: _lp(c, t, m) for p, c in kept.items()}
        used: Counter = Counter()
        for w, wc in word_counts.items():
            for p in _segment(w, lp):
                used[p] += wc
        multi = sorted(
            ((c, p) for p, c in used.items() if len(p) >= 2),
            key=lambda x: (-x[0], x[1]),
        )
        if max_pieces is not None:
            multi = multi[: int(max_pieces)]
        kept = {p: used.get(p, 0) for p in chars}
        kept.update({p: c for c, p in multi})
    t, m = sum(kept.values()), len(kept)
    return {p: (c, _lp(c, t, m)) for p, c in kept.items()}


def _unigram_train_iter_ctes(
    t: int, prev_kept: str, scale: int, max_pieces: int | None, L: int
) -> str:
    """One unrolled EM iteration of :func:`unigram_train_sql`: score
    ``prev_kept`` → recursive-CTE Viterbi over every word → use counts
    → pruned ``kept{t}``.  The DP is :func:`unigram_viterbi_ctes`'
    exact recursion, suffixed per iteration."""
    mp = (
        f"QUALIFY ROW_NUMBER() OVER (ORDER BY c DESC, piece) "
        f"<= {int(max_pieces)} "
        if max_pieces is not None
        else ""
    )
    return (
        f"tot{t} AS (SELECT CAST(SUM(c) AS BIGINT) AS t, "
        f"CAST(COUNT(*) AS BIGINT) AS m FROM {prev_kept}), "
        f"lp{t} AS MATERIALIZED (SELECT piece, "
        "CAST(FLOOR((ln(CAST(c + 1 AS DOUBLE)) - "
        f"ln(CAST(t + m AS DOUBLE))) * {int(scale)}) AS BIGINT) AS lp "
        f"FROM {prev_kept} CROSS JOIN tot{t}), "
        f"wp{t} AS (SELECT DISTINCT s.w, s.j, s.l, lp.lp "
        f"FROM spans s JOIN lp{t} lp USING (piece)), "
        f"cand{t} AS (SELECT w, j + l - 1 AS i, "
        "list({'j': j - 1, 'lp': lp, 'plen': l}) AS cs "
        f"FROM wp{t} GROUP BY w, j + l - 1), "
        f"dp{t} AS ("
        "SELECT w, wc, len(w) AS ln, 0 AS i, [CAST(0 AS BIGINT)] AS ss, "
        "[0] AS bps FROM words "
        "UNION ALL "
        "SELECT w, wc, ln, i, list_append(ss, best['s']), "
        "list_append(bps, best['bp']) FROM ("
        "SELECT d.w, d.wc, d.ln, d.i + 1 AS i, d.ss AS ss, d.bps AS bps, "
        "list_sort([{'s': d.ss[x.j + 1] + x.lp, 'plen': x.plen, "
        "'bp': x.j} for x in c.cs], 'DESC')[1] AS best "
        f"FROM dp{t} d JOIN cand{t} c ON c.w = d.w AND c.i = d.i + 1 "
        "WHERE d.i < d.ln)), "
        f"fin{t} AS (SELECT w, wc, ln, ss, bps FROM dp{t} WHERE i = ln), "
        f"back{t} AS ("
        f"SELECT w, ln AS pos, bps, CAST([] AS VARCHAR[]) AS ps FROM fin{t} "
        "UNION ALL "
        "SELECT w, bps[pos + 1], bps, "
        "list_prepend(substr(w, bps[pos + 1] + 1, pos - bps[pos + 1]), ps) "
        f"FROM back{t} WHERE pos > 0), "
        f"seg{t} AS MATERIALIZED (SELECT w, ps FROM back{t} WHERE pos = 0), "
        f"used{t} AS MATERIALIZED (SELECT piece, CAST(SUM(wc) AS BIGINT) AS c FROM ("
        f"SELECT words.wc, unnest(s.ps) AS piece FROM seg{t} s "
        "JOIN words USING (w)) GROUP BY piece), "
        f"kept{t} AS MATERIALIZED ("
        f"SELECT ch.piece, COALESCE(u.c, CAST(0 AS BIGINT)) AS c "
        f"FROM chars ch LEFT JOIN used{t} u USING (piece) "
        "UNION ALL "
        f"SELECT piece, c FROM used{t} WHERE length(piece) >= 2 {mp})"
    )


def unigram_train_sql(
    max_piece_len: int = 4,
    min_count: int = 2,
    n_iters: int = 2,
    max_pieces: int | None = None,
    scale: int = 1_000_000,
    table: str = "documents",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`unigram_train` — the EM loop unrolled into
    ``n_iters`` suffixed copies of the tok7 recursive-CTE Viterbi, each
    reading the previous iteration's kept-inventory CTE; identical
    add-one integer-micro scores, tie rule, zero-use pruning, and
    (c DESC, piece ASC) target-vocab prune."""
    norm = tx.NORMALIZE_SQL.format(c=f"COALESCE({text_col}, '')")
    L, mc = int(max_piece_len), int(min_count)
    parts = [
        "toks AS (SELECT "
        f"list_filter(string_split({norm}, ' '), t -> t <> '') AS ts "
        f"FROM {table})",
        "words AS MATERIALIZED (SELECT f AS w, CAST(count(*) AS BIGINT) "
        "AS wc FROM toks, LATERAL UNNEST(ts) AS u(f) GROUP BY f)",
        "spans AS MATERIALIZED (SELECT w, wc, j, l, substr(w, j, l) AS piece "
        "FROM words, LATERAL UNNEST(generate_series(1, len(w))) AS a(j), "
        f"LATERAL UNNEST(generate_series(1, least({L}, len(w) - j + 1))) "
        "AS b(l))",
        "counts AS (SELECT piece, CAST(SUM(wc) AS BIGINT) AS c "
        "FROM spans GROUP BY piece)",
        "chars AS (SELECT piece FROM counts WHERE length(piece) = 1)",
        "kept0 AS MATERIALIZED (SELECT piece, c FROM counts "
        f"WHERE length(piece) = 1 OR c >= {mc})",
    ]
    prev = "kept0"
    for t in range(1, int(n_iters) + 1):
        parts.append(
            _unigram_train_iter_ctes(t, prev, scale, max_pieces, L)
        )
        prev = f"kept{t}"
    return (
        "WITH RECURSIVE "
        + ", ".join(parts)
        + f", ftot AS (SELECT CAST(SUM(c) AS BIGINT) AS t, "
        f"CAST(COUNT(*) AS BIGINT) AS m FROM {prev}) "
        f"SELECT piece, c, CAST(FLOOR((ln(CAST(c + 1 AS DOUBLE)) - "
        f"ln(CAST(t + m AS DOUBLE))) * {int(scale)}) AS BIGINT) "
        f"AS lp_micro FROM {prev} CROSS JOIN ftot"
    )


def unigram_encode_len_trained_ctes(
    max_piece_len: int = 4,
    min_count: int = 2,
    n_iters: int = 2,
    max_pieces: int | None = None,
    scale: int = 1_000_000,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """Recursive CTE chain of the TRAINED encode pass (no ``WITH``
    keyword, no final select) — :func:`unigram_train_sql`'s unrolled EM
    plus ONE more Viterbi round under the final inventory's scores,
    ending at ``encoded (id, n_tokens)`` so composed pipelines (pipe11)
    can append their own CTEs."""
    norm = tx.NORMALIZE_SQL.format(c=f"COALESCE({text_col}, '')")
    L, mc = int(max_piece_len), int(min_count)
    parts = [
        "toks AS (SELECT "
        f"list_filter(string_split({norm}, ' '), t -> t <> '') AS ts "
        f"FROM {table})",
        "words AS MATERIALIZED (SELECT f AS w, CAST(count(*) AS BIGINT) "
        "AS wc FROM toks, LATERAL UNNEST(ts) AS u(f) GROUP BY f)",
        "spans AS MATERIALIZED (SELECT w, wc, j, l, substr(w, j, l) AS piece "
        "FROM words, LATERAL UNNEST(generate_series(1, len(w))) AS a(j), "
        f"LATERAL UNNEST(generate_series(1, least({L}, len(w) - j + 1))) "
        "AS b(l))",
        "counts AS (SELECT piece, CAST(SUM(wc) AS BIGINT) AS c "
        "FROM spans GROUP BY piece)",
        "chars AS (SELECT piece FROM counts WHERE length(piece) = 1)",
        "kept0 AS MATERIALIZED (SELECT piece, c FROM counts "
        f"WHERE length(piece) = 1 OR c >= {mc})",
    ]
    prev = "kept0"
    # n_iters EM rounds, then one ENCODE round (t = n_iters + 1) whose
    # lp/dp/seg chain segments under the FINAL inventory (its own
    # used/kept CTEs go unreferenced)
    for t in range(1, int(n_iters) + 2):
        parts.append(
            _unigram_train_iter_ctes(t, prev, scale, max_pieces, L)
        )
        prev = f"kept{t}"
    e = int(n_iters) + 1
    parts.append(
        f"uvenc AS (SELECT s.w, CAST(len(s.ps) AS BIGINT) AS n_pieces "
        f"FROM seg{e} s)"
    )
    parts.append(
        f"dt AS (SELECT {id_col}, u.f AS w FROM (SELECT {id_col}, "
        f"list_filter(string_split({norm}, ' '), t -> t <> '') AS ts "
        f"FROM {table}), LATERAL UNNEST(ts) AS u(f))"
    )
    parts.append(
        f"agg AS (SELECT dt.{id_col}, CAST(SUM(e.n_pieces) AS BIGINT) "
        f"AS s FROM dt JOIN uvenc e USING (w) GROUP BY dt.{id_col})"
    )
    parts.append(
        f"encoded AS (SELECT d.{id_col}, COALESCE(a.s, 0) AS n_tokens "
        f"FROM {table} d LEFT JOIN agg a USING ({id_col}))"
    )
    return ", ".join(parts)


# ---------------------------------------------------------------------------
# greedy k-center coreset selection (Gonzalez farthest-point traversal)
# ---------------------------------------------------------------------------


def kcenter_select(
    df: DataFrame,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy k-center data selection over an embedding column
    (Gonzalez, TCS 1985; the coreset / active-learning selection family
    — Sener & Savarese, ICLR 2018 use exactly this farthest-point
    traversal): seed with the lowest-id vector, then repeatedly select
    the point FARTHEST from its nearest already-chosen center.  Where
    DSIR (sel1–sel3) matches a target DISTRIBUTION, k-center maximizes
    geometric COVERAGE — the complementary selection axis.

    Exactness: vectors quantize to integer micros
    (``semdedup._micro_vec``'s recipe — one IEEE multiply + floor per
    component) and every distance is an exact int64 squared L2 (micro
    components ≤ 1e6, diff² ≤ 4e12, ×dim ≪ 2⁶³), so argmax ties are
    real ties and break to the lowest id — the whole traversal replays
    in DuckDB as k unrolled CTEs (:func:`kcenter_sql`).

    Returns the ``k`` selected rows ``(rnk, id, sel_dist2)``:
    selection order, vector id, and the squared micro distance to the
    nearest prior center at selection time (the coverage radius² after
    ``rnk`` centers is row ``rnk+1``'s ``sel_dist2``); the seed row has
    ``sel_dist2 = 0``.  Fewer than ``k`` input rows yield that many.

    Scale: ``k`` corpus scans, each a zero-shuffle projection (centers
    ride the task closure as ``k×dim`` int literals) + one
    TakeOrdered(1); driver state is ``k×dim`` ints + one 1-row collect
    per iteration — the ``micro_kmeans_fit`` / BPE-loop driver-state
    contract.
    """
    if k < 1:
        raise ValueError("kcenter_select: k must be >= 1")
    from nlp_to_nosql_spark.operators.semdedup import _micro_vec

    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    spark = df.sparkSession
    # result schema mirrors the INPUT id type (string ids work too —
    # round-11 advisory: the traversal is type-agnostic, the assembly
    # must be as well)
    out_schema = StructType(
        [
            StructField("rnk", IntegerType(), False),
            StructField(id_col, df.schema[id_col].dataType, True),
            StructField("sel_dist2", LongType(), True),
        ]
    )
    m = df.select(F.col(id_col), _micro_vec(vec_col).alias("_mv"))

    def dist2_to(center: list) -> Column:
        lit = F.array(*[F.lit(int(c)).cast("long") for c in center])
        return F.aggregate(
            F.zip_with(F.col("_mv"), lit, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    seed = m.orderBy(F.col(id_col).asc()).limit(1).collect()
    if not seed:
        return local_df(spark, [], out_schema)
    picks = [(1, seed[0][id_col], 0, list(seed[0]["_mv"]))]
    for r in range(2, int(k) + 1):
        chosen_ids = [p[1] for p in picks]
        dists = [dist2_to(p[3]) for p in picks]
        dmin = dists[0] if len(dists) == 1 else F.least(*dists)
        cand = (
            m.filter(~F.col(id_col).isin(chosen_ids))
            .select(F.col(id_col), F.col("_mv"), dmin.alias("_d"))
            .orderBy(F.col("_d").desc(), F.col(id_col).asc())
            .limit(1)
            .collect()
        )
        if not cand:
            break
        row = cand[0]
        picks.append((r, row[id_col], int(row["_d"]), list(row["_mv"])))
    return local_df(spark, [(r, i, d) for r, i, d, _ in picks], out_schema)


def kcenter_sql(
    k: int = 4,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of :func:`kcenter_select` — the greedy traversal
    unrolled into ``k`` CTE rounds over the same integer-micro vectors,
    same (dist DESC, id ASC) argmax, same chosen-id exclusion."""
    mv = (
        f"list_transform({vec_col}, "
        "x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))"
    )
    d2 = (
        "list_sum([(a.mv[i] - {c}.mv[i]) * (a.mv[i] - {c}.mv[i]) "
        "for i in range(1, len(a.mv) + 1)])"
    )
    parts = [
        f"m AS (SELECT {id_col} AS vid, {mv} AS mv FROM {table})",
        "c1 AS (SELECT vid, mv, CAST(0 AS BIGINT) AS sd "
        "FROM m ORDER BY vid LIMIT 1)",
    ]
    sel = ["SELECT 1 AS rnk, vid, sd FROM c1"]
    prev_ds = None
    for r in range(2, int(k) + 1):
        prev = f"c{r - 1}"
        ds = f"d{r - 1}"
        if prev_ds is None:
            parts.append(
                f"{ds} AS (SELECT a.vid, a.mv, "
                "CAST(" + d2.format(c="c1") + " AS BIGINT) AS dmin "
                "FROM m a, c1 WHERE a.vid <> c1.vid)"
            )
        else:
            parts.append(
                f"{ds} AS (SELECT a.vid, a.mv, "
                "least(a.dmin, CAST(" + d2.format(c=prev) + " AS BIGINT)) "
                f"AS dmin FROM {prev_ds} a, {prev} "
                f"WHERE a.vid <> {prev}.vid)"
            )
        parts.append(
            f"c{r} AS (SELECT vid, mv, dmin AS sd FROM {ds} "
            "ORDER BY dmin DESC, vid LIMIT 1)"
        )
        sel.append(f"SELECT {r} AS rnk, vid, sd FROM c{r}")
        prev_ds = ds
    return (
        "WITH "
        + ", ".join(parts)
        + " SELECT CAST(rnk AS INT) AS rnk, vid AS "
        + id_col
        + ", CAST(sd AS BIGINT) AS sel_dist2 FROM ("
        + " UNION ALL ".join(sel)
        + ")"
    )
