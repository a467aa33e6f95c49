"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Design rules for 100 TB:

* **Never cross-join documents.** Candidate pairs come from equality joins
  on derived keys (fingerprints, shingles, LSH band buckets) that Spark
  executes as shuffle joins with AQE skew handling.
* **Stop-shingle cutoff.** A shingle appearing in more than ``max_df``
  documents is dropped before the pair join (it would contribute
  O(df²) candidate pairs while carrying no discriminative signal).
* **Everything JVM-side.** Shingling, hashing, and signatures are Column
  expressions (split/transform/xxhash64/aggregate) — no Python UDFs in the
  per-row path.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nlp_to_nosql_spark.functions.text import (
    NORMALIZE_SQL,
    fingerprint,
    normalize_text,
)
from nlp_to_nosql_spark.plans.caching import persisted
from nlp_to_nosql_spark.plans.partitioning import fan_out

#: Normalized-text SQL fragment shared by the winnow oracle builder.
_NORMALIZE_SQL_TEXT = NORMALIZE_SQL.format(c="text")

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def dedup_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One representative row (minimum id) per distinct normalized text.

    Hash-shuffle on a 128-bit fingerprint of the *normalized* text rather
    than the full text — at scale the shuffle key is 16 bytes, not the
    document body.
    """
    return (
        df.select(
            F.col(id_col),
            fingerprint(F.col(text_col)).alias("fp"),
        )
        .groupBy("fp")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select(id_col, "fp", "n_copies")
    )


# ---------------------------------------------------------------------------
# shingling
# ---------------------------------------------------------------------------

def shingles_of_words(words: Column, k: int = 3) -> Column:
    """k-word shingles from an already-tokenized ``array<string>`` column.

    ``words`` MUST be a column attribute (not an inline expression): the
    transform lambda references it once per element, and an embedded
    subexpression tree would be re-evaluated per shingle (measured 6×
    slower on the full shingle pipeline).  Callers tokenize in their own
    projection first; CollapseProject keeps multi-referenced non-cheap
    expressions materialized, so no shuffle barrier is needed.
    """
    n = F.size(words)
    return F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.array_join(F.slice(words, i, k), " "),
        ),
    ).otherwise(F.array(F.array_join(words, " ")))


def tokenized(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, _words) projection: normalized whitespace tokens as their own
    attribute, fanned out for CPU parallelism."""
    return fan_out(df.select(id_col, text_col)).select(
        F.col(id_col),
        F.split(normalize_text(F.col(text_col)), " ").alias("_words"),
    )


def shingle_arrays(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """(id, ``_sh`` array<string>) — each row's DISTINCT k-word shingle
    set as an array attribute, the shared frontier of the shingle-based
    pair generators: :func:`shingle_table` explodes it,
    :func:`minhash_signatures_md5` folds it.
    Callers that run SEVERAL generators over the same frame (the
    eval11/eval12 precision-recall measurements) build this once,
    persist it, and pass it via the generators' ``shingle_arrays``
    parameter so the tokenize+shingle CPU runs once, not per generator.
    """
    return tokenized(df, id_col, text_col).select(
        F.col(id_col),
        F.array_distinct(shingles_of_words(F.col("_words"), k)).alias("_sh"),
    )


def shingle_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    shingle_arrays: DataFrame | None = None,
) -> DataFrame:
    """Exploded distinct (id, shingle) inverted-index table.

    The input is fanned out first: shingling is CPU-bound per row, and a
    small parquet file otherwise arrives as a single split.  No shuffle:
    ``array_distinct`` before the explode already makes each (id, shingle)
    pair unique, so no post-explode ``distinct`` is needed.  Tokenization
    happens in its own projection (see :func:`shingles_of_words`).

    ``shingle_arrays`` (a prebuilt :func:`shingle_arrays` frame for the
    same ``df``/``k``) skips the tokenize+shingle pass entirely.  That
    path may explode the ``_sh`` ATTRIBUTE only because the prebuilt
    frame is persisted by its callers: explode-of-attribute makes
    InferFiltersFromGenerate push a ``size(_sh) > 0`` filter below the
    fan-out exchange, which re-evaluates the whole tokenize+shingle
    chain on the single-split scan — ONE core doing all the shingle CPU
    (measured 12× on the default path, r15; the _pool_contexts trap).
    The cache boundary stops that pushdown; the default path keeps the
    shingle expression INLINE in the explode, which the rule leaves
    alone.
    """
    if shingle_arrays is not None:
        return shingle_arrays.select(
            F.col(id_col), F.explode(F.col("_sh")).alias("shingle")
        )
    return tokenized(df, id_col, text_col).select(
        F.col(id_col),
        F.explode(
            F.array_distinct(shingles_of_words(F.col("_words"), k))
        ).alias("shingle"),
    )


# ---------------------------------------------------------------------------
# exact n-gram Jaccard near-dup
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.8,
    max_df: int = 1000,
    shingle_arrays: DataFrame | None = None,
) -> DataFrame:
    """All pairs (id_a < id_b) with shingle-set Jaccard ≥ threshold.

    Plan shape: explode → stop-shingle filter → self-equijoin on shingle →
    count intersections → join per-doc set sizes → Jaccard.  Shuffles on
    shingle then on the pair key; both keys are high-cardinality, and the
    ``max_df`` cutoff bounds the worst bucket at O(max_df²).

    Each shingle STRING is replaced by its ``xxhash64`` long before the
    index is persisted and shuffled: every downstream count is a pure
    set-cardinality computation, so the pair output equals the
    string-keyed Jaccard as long as no two distinct shingles collide in
    64 bits, while the persisted index and both shuffles move an 8-byte
    key instead of a k-word string (several-fold fewer bytes — the
    dominant cost of this operator at corpus scale).  The birthday bound
    puts one corpus-wide collision at ~3 % for 10¹² distinct shingles,
    and ONE collision perturbs at most one Jaccard score by one count
    (the value-level DuckDB oracle matches on every collision-free
    corpus).

    When the ``max_df`` cutoff triggers, the score is the exact Jaccard of
    the **rare-shingle** sets: both the intersection counts and the per-doc
    set sizes are computed over the same stop-filtered universe (a
    numerator-only filter would systematically underestimate Jaccard for
    documents containing stop shingles).

    ``shingle_arrays`` (a prebuilt :func:`shingle_arrays` frame for the
    same ``df``/``k``) skips the tokenize+shingle pass — pass it when
    another generator over the same frame shares the persisted shingle
    sets (the eval11/eval12 measurements).
    """
    # Reused 3× (stop-shingle census, index join, set sizes) but it is the
    # engine's biggest intermediate — shingle-factor × the documents — so
    # it persists DISK_ONLY, not in executor memory.
    index = shingle_table(df, id_col, text_col, k, shingle_arrays=shingle_arrays)
    ex = persisted(
        index.select(F.col(id_col), F.xxhash64(F.col("shingle")).alias("shingle")),
        "shingles",
    )

    # Stop shingles (df > max_df) are bounded by |shingle rows| / max_df —
    # usually tiny, but at extreme corpus scale that bound is NOT a
    # broadcast guarantee, so the anti-join is left unhinted: AQE picks
    # broadcast when the census output is actually small and falls back
    # to a shuffle join when it isn't, instead of OOMing the driver on a
    # forced collect.
    stop = (
        ex.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df_count"))
        .filter(F.col("df_count") > max_df)
        .select("shingle")
    )
    ex_rare = ex.join(stop, "shingle", "left_anti")

    # Per-doc sizes over the SAME stop-filtered universe as the
    # intersection counts.  One extra groupBy on the cached rare index;
    # its post-agg output is tiny (one row per doc) and the two sizes
    # joins below stay AQE-broadcast.  PERSISTED because BOTH size
    # joins reference it: plan-inlined twice, each reference re-runs
    # the census + anti-join + groupBy chain, and consumers that
    # materialize through the RDD path (pagerank/CC localCheckpoints)
    # get no exchange reuse at all — the r15 in-session A/B measured
    # the persist at 4.26 → 3.63 s on pr1 (min-of-5) and neutral on
    # the standalone pair queries.
    sizes = persisted(
        ex_rare.groupBy(id_col).agg(F.count(F.lit(1)).alias("set_size")),
        "results",
    )

    a, b = ex_rare.alias("a"), ex_rare.alias("b")
    inter = (
        a.join(b, (F.col(f"a.shingle") == F.col(f"b.shingle"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )

    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("size_a") + F.col("size_b") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup
# ---------------------------------------------------------------------------

_LONG_MAX = (1 << 63) - 1


def md5_hash60(c: Column) -> Column:
    """60-bit integer hash from the first 15 hex chars of md5 — slower
    than xxhash64 but exactly reproducible in DuckDB
    (``CAST('0x'||substr(md5(x),1,15) AS UBIGINT)``), which is what lets
    the md5-family minhash/simhash variants carry value-level oracles."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


#: Universal-hash permutation family over a 28-bit base hash:
#: h_i = ((2i+1)·base + i·KNUTH) mod P.  Every term stays < 2^40, so the
#: arithmetic is overflow-free in engines that ERROR on int64 overflow
#: (DuckDB) as well as ones that wrap (JVM).
_MINHASH_P = 2_147_483_647          # 2^31 - 1 (prime)
_MINHASH_KNUTH = 2_654_435_761      # Knuth multiplicative constant


def md5_hash28(c: Column) -> Column:
    """28-bit md5-derived base hash (first 7 hex chars) — the DuckDB-
    reproducible seed for the arithmetic permutation family."""
    return F.conv(F.substring(F.md5(c), 1, 7), 16, 10).cast("long")


def minhash_signatures_md5(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_perm: int = 64,
    shingle_arrays: DataFrame | None = None,
) -> DataFrame:
    """(id, sig array<long>) — oracle-reproducible minhash signatures:
    ONE md5 per shingle, then ``num_perm`` arithmetic permutations of the
    28-bit base rather than a hash per (shingle × permutation).  That is
    the cost shape a 100 TB minhash pass wants (the hash is the expensive
    part; the permutations are mul-adds), and every step is integer
    arithmetic DuckDB replays exactly.  Shuffle-free per-row fold: a
    document's signature never leaves its scan partition.  The base
    hashes live in their own projection so the permutation lambda
    references an attribute array, not a re-hashed subexpression.  ``shingle_arrays`` (a
    prebuilt :func:`shingle_arrays` frame for the same ``df``/``k``)
    skips the tokenize+shingle pass."""
    base = shingle_arrays
    if base is None:
        base = tokenized(df, id_col, text_col).select(
            F.col(id_col),
            F.array_distinct(shingles_of_words(F.col("_words"), k)).alias(
                "_sh"
            ),
        )
    sh = base.select(
        F.col(id_col),
        F.transform(F.col("_sh"), lambda s: md5_hash28(s)).alias("_hs"),
    )
    return sh.select(
        F.col(id_col),
        F.aggregate(
            F.col("_hs"),
            F.array_repeat(F.lit(_LONG_MAX).cast("long"), num_perm),
            lambda acc, h: F.zip_with(
                acc,
                F.transform(
                    F.sequence(F.lit(0), F.lit(num_perm - 1)),
                    lambda i: (
                        (F.lit(2) * i + 1) * h + i * F.lit(_MINHASH_KNUTH)
                    ) % F.lit(_MINHASH_P),
                ),
                lambda a, p: F.least(a, p),
            ),
        ).alias("sig"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    shingle_arrays: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs via banded MinHash-LSH + signature-level verification.

    ``bands`` bands of ``num_perm // bands`` rows; a pair is a candidate if
    any band hashes equal (probability ≈ 1-(1-j^r)^b).  Candidates are
    verified by estimated Jaccard = fraction of agreeing minhashes, so the
    full shingle sets are never rejoined.  Signatures come from
    :func:`minhash_signatures_md5`, the oracle-reproducible family.
    ``shingle_arrays`` (a prebuilt :func:`shingle_arrays` frame for the
    same ``df``/``k``) is forwarded to the signature builder so the
    tokenize+shingle pass is shared with other generators.
    """
    if bands <= 0 or bands > num_perm or num_perm % bands:
        # bands > num_perm would make every band slice empty — one global
        # bucket, an O(n²) cross join; a non-dividing bands silently
        # ignores trailing minhashes.  Both are config mistakes, not modes.
        raise ValueError(
            f"bands={bands} must divide num_perm={num_perm} "
            "(1 <= bands <= num_perm)"
        )
    rows = num_perm // bands
    # Narrow (id + num_perm longs), reused by banding and verification:
    # memory with disk spillover.
    sig = persisted(
        minhash_signatures_md5(
            df, id_col, text_col, k, num_perm, shingle_arrays=shingle_arrays
        ),
        "signatures",
    )

    banded = sig.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        # Hash the band's minhash longs DIRECTLY (multi-arg
                        # xxhash64 folds them in sequence) — no per-(row,
                        # band) string materialization; bucket equality is
                        # still slice equality modulo a 64-bit collision,
                        # and candidates are verified downstream anyway.
                        F.xxhash64(
                            *[
                                F.element_at(F.col("sig"), i * rows + j + 1)
                                for j in range(rows)
                            ]
                        ).alias("bucket"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))

    a, b = banded.alias("a"), banded.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )

    sa = sig.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    return (
        candidates.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "est_jaccard",
            F.round(
                F.aggregate(
                    F.zip_with(
                        "sig_a", "sig_b", lambda x, y: (x == y).cast("int")
                    ),
                    F.lit(0),
                    lambda acc, v: acc + v,
                ).cast("double")
                / F.lit(float(num_perm)),
                6,
            ),
        )
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash near-dup
# ---------------------------------------------------------------------------

#: 60-bit SimHash over md5-derived token hashes: per token, the first
#: 15 hex chars of md5 parsed as an integer give 60 sign contributions;
#: per document, a bit is set where its sum is positive.  DuckDB
#: reproduces the token hash exactly
#: (``CAST('0x'||substr(md5(t),1,15) AS UBIGINT)``), so the WHOLE simhash
#: pipeline gets a value-level oracle.  SQL-lambda form because the
#: Python ``shiftright`` wrapper only takes a literal int shift; SQL
#: ``shiftright(expr, expr)`` shifts by a column.  Nested SQL
#: transforms/aggregates — no shuffle, no Python.
_SIMHASH_MD5_SQL = """
aggregate(
  zip_with(
    aggregate(
      transform(split(regexp_replace(lower(trim({c})), '\\\\s+', ' '), ' '),
                t -> CAST(conv(substr(md5(t), 1, 15), 16, 10) AS BIGINT)),
      array_repeat(0, 60),
      (acc, h) -> zip_with(acc, sequence(0, 59),
                           (a, i) -> a + IF((shiftright(h, i) & 1L) = 1L, 1, -1))
    ),
    sequence(0, 59),
    (s, i) -> IF(s > 0, shiftleft(1L, i), 0L)
  ),
  0L,
  (acc, v) -> acc | v
)
"""


def simhash60_md5(col_name: str) -> Column:
    """Oracle-reproducible 60-bit SimHash (md5 token hashes) — see
    :data:`_SIMHASH_MD5_SQL`."""
    return F.expr(_SIMHASH_MD5_SQL.format(c=col_name))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Pairs with SimHash Hamming distance ≤ ``max_hamming``.

    Pigeonhole banding: with ``bands`` equal-width chunks, any pair within
    Hamming distance < bands shares at least one exact chunk — candidates
    come from equality joins on (band, chunk), then exact popcount verify.
    The banding is therefore EXACT (equal to the full O(n²) Hamming
    filter) whenever ``max_hamming < bands``; to keep that contract true
    for every parameterization, ``bands`` is widened to
    ``max_hamming + 1`` when the caller passes fewer (bits outside the
    banded region only ever ADD candidates, so partial band coverage at
    high ``bands`` never loses a pair).  ``max_hamming ≥ 60`` would need
    1-bit bands and matches everything — rejected.  Signatures are
    :func:`simhash60_md5`, the oracle-reproducible 60-bit family.
    """
    if max_hamming >= 60:
        raise ValueError(
            f"max_hamming={max_hamming} >= 60 signature bits: every pair "
            "matches; filter on nothing instead"
        )
    bands = max(bands, max_hamming + 1)
    width = 60 // bands
    mask = (1 << width) - 1
    sigs = persisted(
        fan_out(df.select(id_col, text_col)).select(
            F.col(id_col),
            simhash60_md5(text_col).alias("simhash"),
        ),
        "signatures",
    )

    banded = sigs.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned(F.col("simhash"), i * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("chunk"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bc"),
    ).select(id_col, "simhash", F.col("bc.band").alias("band"), F.col("bc.chunk").alias("chunk"))

    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
        .withColumn(
            "hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# character-n-gram min sketch (winnowing-style fingerprint)
# ---------------------------------------------------------------------------

def char_ngram_sketch(
    df: DataFrame, id_col: str, text_col: str, n: int = 32
) -> DataFrame:
    """Per-document content sketch over sliding character n-grams:
    the minimum md5 across all n-grams (a 1-permutation minhash of the
    character-level content, rolling-hash style) plus the distinct n-gram
    count.  Two documents sharing any region of ≥ n characters have a
    chance of agreeing on min_fp; equal sketches are strong partial-dup
    signals at a fraction of shingle-join cost.

    md5 (not xxhash64) so a SQL oracle can compute the identical value.
    Entirely per-row (array transform + array_min), zero shuffle: the
    grams of one document never leave their partition, so there is no
    explode → groupBy round-trip of n-gram strings (measured 8× faster
    than the exploded form at sf0.1, and shuffle-free at 100 TB).  The
    normalized text and the gram array each live in their own projection
    so the transform lambdas reference attributes, not embedded
    subexpression trees (see :func:`shingles_of_words`).
    """
    grams_df = fan_out(df.select(id_col, text_col)).select(
        F.col(id_col),
        normalize_text(F.col(text_col)).alias("_norm"),
    ).select(
        F.col(id_col),
        # NULL/empty text has NO grams (empty array → min_fp NULL,
        # n_grams 0) — a contentless document must not report a
        # fabricated gram count to containment/overlap consumers.
        F.when(
            F.length("_norm") > 0,
            F.array_distinct(
                F.transform(
                    F.sequence(
                        F.lit(1),
                        F.greatest(F.length("_norm") - (n - 1), F.lit(1)),
                    ),
                    lambda p: F.col("_norm").substr(p, F.lit(n)),
                )
            ),
        ).otherwise(F.array().cast("array<string>")).alias("_grams"),
    )
    return grams_df.select(
        F.col(id_col),
        F.array_min(
            F.transform(F.col("_grams"), lambda g: F.md5(g))
        ).alias("min_fp"),
        F.size("_grams").cast("long").alias("n_grams"),
    )


# ---------------------------------------------------------------------------
# duplicated span detection (strided token chunks)
# ---------------------------------------------------------------------------

def chunk_spans(words: Column, k: int = 5, stride: int = 2) -> Column:
    """k-token chunks at a fixed stride from an ``array<string>`` column.

    Like :func:`shingles_of_words` but strided: stride > 1 trades recall
    for a ~stride× smaller exploded table, which is what a 100 TB
    substring-dedup pass wants.  The recall contract is ALIGNMENT-
    CONDITIONAL: a shared span of ≥ k + s - 1 tokens is caught when its
    two occurrences start at offsets congruent modulo ``stride`` (always
    true at stride 1); misaligned copies share no chunk regardless of
    span length, so expect ≈ 1/s of the misaligned mass to go unseen.
    Use ``stride=1`` for exact substring-level dedup; strided runs are a
    cheap first-pass filter, not a guarantee.  ``words`` MUST be a column
    attribute — see :func:`shingles_of_words` for the lambda-recompute
    trap.
    """
    n = F.size(words)
    return F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - (k - 1), F.lit(stride)),
            lambda i: F.array_join(F.slice(words, i, k), " "),
        ),
    ).otherwise(F.array(F.array_join(words, " ")))


def winnow_fingerprints(words: Column, k: int = 5, w: int = 4) -> Column:
    """Winnowing fingerprints of a token array (Schleimer, Wilkerson &
    Aiken, "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD 2003 — the public MOSS algorithm).

    All stride-1 k-gram md5 hashes, then the minimum over every window of
    ``w`` consecutive hashes, distinct.  Unlike strided chunking
    (:func:`chunk_spans`), the guarantee is ALIGNMENT-FREE: any two
    occurrences of a shared span of ≥ k + w - 1 tokens contain one
    identical full window of w consecutive gram hashes, hence share that
    window's minimum — wherever each copy starts.  Expected density is
    ≈ 2/(w+1) of positions, so the exploded table shrinks like stride ≈
    (w+1)/2 while keeping the recall guarantee strided chunks give up.

    Document-level min-only edge cases mirror :func:`chunk_spans`: fewer
    than k tokens → one whole-text gram; fewer than w grams → one window
    over all grams.  md5 (not xxhash64) keeps a DuckDB oracle exact.

    PERFORMANCE: this single-Column form re-evaluates the gram-hash
    subexpression once PER WINDOW (Catalyst does not common-subexpression
    -eliminate across higher-order-function lambda bodies), costing
    O(n·w) md5 passes.  Hot paths must use :func:`winnowed_fps`, which
    stages the hash array into its own projection so each window reads a
    cheap attribute — measured ~7× faster at sf0.1.  This form stays for
    one-off Column composition and as the semantic reference the staged
    plan is tested against.
    """
    return F.array_distinct(
        _windowed_minima(_winnow_gram_hashes(words, k), w)
    )


def _winnow_gram_hashes(words: Column, k: int) -> Column:
    """Stride-1 k-gram md5 hash array — the pre-window winnowing stage."""
    n = F.size(words)
    grams = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.array_join(F.slice(words, i, k), " "),
        ),
    ).otherwise(F.array(F.array_join(words, " ")))
    return F.transform(grams, lambda g: F.md5(g))


def _windowed_minima(hashes: Column, w: int) -> Column:
    """Minimum of every window of ``w`` consecutive elements.  Pass an
    ATTRIBUTE (a projected column), not a computed expression: ``hashes``
    is referenced once per window (see :func:`winnow_fingerprints`'s
    performance note)."""
    m = F.size(hashes)
    return F.when(
        m >= w,
        F.transform(
            F.sequence(F.lit(1), m - (w - 1)),
            lambda j: F.array_min(F.slice(hashes, j, w)),
        ),
    ).otherwise(F.array(F.array_min(hashes)))


def winnowed_fps(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """``(id, fp)`` exploded winnowing fingerprints — the STAGED plan the
    hot paths use: the gram-hash array materializes in its own
    projection, so the window minima reference an attribute instead of
    re-evaluating the md5 transform per window (~7× at sf0.1; the
    semantics are pinned equal to :func:`winnow_fingerprints` by test).
    """
    staged = tokenized(df, id_col, text_col).select(
        F.col(id_col), _winnow_gram_hashes(F.col("_words"), k).alias("_h")
    )
    return staged.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(_windowed_minima(F.col("_h"), w))
        ).alias("fp"),
    )


def winnow_fps_sql(src: str, prefix: str, k: int = 5, w: int = 4) -> str:
    """DuckDB CTE block computing ``(doc_id, wfp)`` winnowing
    fingerprints of ``src`` — the SQL twin of :func:`winnowed_fps`, as a
    comma-terminated fragment for composition into a larger WITH chain
    (CTE names are ``{prefix}words``/``{prefix}hs``/``{prefix}fps``).
    ONE copy of the oracle-critical gram/window arithmetic: the dc1 and
    pipe3 oracles both format this, so the kernel cannot drift between
    them."""
    return (
        f"{prefix}words AS (SELECT doc_id, string_split("
        + _NORMALIZE_SQL_TEXT
        + f", ' ') AS w FROM {src}), "
        f"{prefix}hs AS (SELECT doc_id, CASE WHEN len(w) >= {k} "
        f"THEN [md5(array_to_string(w[i:i+{k - 1}], ' ')) "
        f"for i in range(1, len(w) - {k - 2})] "
        "ELSE [md5(array_to_string(w, ' '))] END AS h "
        f"FROM {prefix}words), "
        f"{prefix}fps AS (SELECT doc_id, unnest(list_distinct("
        f"CASE WHEN len(h) >= {w} "
        f"THEN [list_min(h[j:j+{w - 1}]) for j in range(1, len(h) - {w - 2})] "
        f"ELSE [list_min(h)] END)) AS wfp FROM {prefix}hs), "
    )


def winnowed_duplicated_spans(
    df: DataFrame, id_col: str, text_col: str, k: int = 5, w: int = 4
) -> DataFrame:
    """Cross-document shared-span detector on winnowing fingerprints:
    ``(fp, n_docs)`` for every fingerprint appearing in more than one
    document.  The alignment-free companion of :func:`duplicated_spans`:
    a shared span of ≥ k + w - 1 tokens is detected REGARDLESS of where
    its copies start, at a comparable exploded-table size (density
    2/(w+1) ≈ stride (w+1)/2).  Same single-shuffle shape: per-doc
    distinct fingerprints explode, one groupBy on the fingerprint key.
    """
    fps = winnowed_fps(df, id_col, text_col, k, w)
    return (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .filter(F.col("n_docs") > 1)
    )


def contamination_report(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Train/eval DECONTAMINATION check: for every eval document that
    overlaps the training corpus, how badly.

    Two overlap signals per eval doc, both alignment-free:

    * ``n_exact_train_dups`` — training docs with the identical
      normalized-content fingerprint (verbatim leakage);
    * ``n_near_train_docs`` / ``n_shared_fps`` — training docs sharing ≥ 1
      winnowing fingerprint (any copied span of ≥ k + w - 1 tokens — the
      benchmark-contamination shape: an eval question pasted inside a
      training page).

    One row per CONTAMINATED eval doc (clean evals are absent — at scale
    the report is the anomaly list, not the corpus).  Plan: fingerprints
    are id+hash tables; both joins are equi-joins on the hash with
    map-side distinct, never text×text.
    """
    t_fp = train.select(
        F.col(id_col).alias("train_id"), fingerprint(F.col(text_col)).alias("fp")
    )
    e_fp = eval_df.select(
        F.col(id_col).alias("eval_id"), fingerprint(F.col(text_col)).alias("fp")
    )
    exact = (
        e_fp.join(t_fp, "fp")
        .groupBy("eval_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_exact_train_dups"))
    )

    def _winnow(df: DataFrame, out_id: str) -> DataFrame:
        return winnowed_fps(df, id_col, text_col, k, w).select(
            F.col(id_col).alias(out_id), F.col("fp").alias("wfp")
        )

    near = (
        _winnow(eval_df, "eval_id")
        .join(_winnow(train, "train_id"), "wfp")
        .groupBy("eval_id")
        .agg(
            F.count_distinct("train_id").cast("long").alias("n_near_train_docs"),
            F.count_distinct("wfp").cast("long").alias("n_shared_fps"),
        )
    )
    return (
        near.join(exact, "eval_id", "full_outer")
        .select(
            "eval_id",
            F.coalesce("n_exact_train_dups", F.lit(0)).alias("n_exact_train_dups"),
            F.coalesce("n_near_train_docs", F.lit(0)).alias("n_near_train_docs"),
            F.coalesce("n_shared_fps", F.lit(0)).alias("n_shared_fps"),
        )
    )


def ngram_decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 13,
) -> DataFrame:
    """The GPT-3/PaLM eval-decontamination convention (Brown et al.,
    arXiv:2005.14165 appendix C; Chowdhery et al., arXiv:2204.02311
    §6): a training document is REMOVED if it shares at least one exact
    ``k``-gram (default 13, the published constant) with any eval-set
    document.  :func:`contamination_report` is the alignment-free
    winnowing REPORT over the eval side; this is the exact-collision
    FILTER over the training side — the two standard decontamination
    shapes.

    Returns one row per training document: ``(id, n_shared_grams,
    keep)`` — ``n_shared_grams`` counts the doc's DISTINCT k-grams that
    appear anywhere in the eval set (BIGINT), ``keep`` is the filter
    verdict.  Documents shorter than ``k`` tokens contribute their
    whole normalized text as one gram (the :func:`chunk_spans`
    fallback — a short training doc equal to a short eval doc is
    contamination).

    Plan, scale-first: both sides tokenize once; the eval side (a
    benchmark suite — small by construction) reduces to a DISTINCT gram
    set that rides a broadcast hash join, so the training corpus never
    shuffles text: one scan-side gram explode, the broadcast inner
    join, and a map-side-combined per-doc count.  At 100 TB with a
    large eval union, grams would be ``xxhash64``-keyed before the
    join; the string form keeps the DuckDB twin value-exact
    (:func:`ngram_decontaminate_sql`).
    """
    t_grams = tokenized(train, id_col, text_col).select(
        F.col(id_col),
        F.explode(
            F.array_distinct(chunk_spans(F.col("_words"), k, stride=1))
        ).alias("g"),
    )
    e_grams = (
        tokenized(eval_df, id_col, text_col)
        .select(
            F.explode(
                F.array_distinct(chunk_spans(F.col("_words"), k, stride=1))
            ).alias("g")
        )
        .distinct()
    )
    hits = (
        t_grams.join(F.broadcast(e_grams), "g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_grams"))
    )
    return (
        train.select(F.col(id_col))
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_shared_grams", F.lit(0).cast("long")).alias(
                "n_shared_grams"
            ),
            F.col("n_shared_grams").isNull().alias("keep"),
        )
    )


def ngram_decontaminate_sql(
    eval_pred: str = "doc_id % 97 = 0",
    k: int = 13,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`ngram_decontaminate` over a single table
    split by ``eval_pred`` (train = NOT pred) — same tokenization,
    stride-1 k-gram enumeration with the whole-text short-doc
    fallback, per-doc distinct, and the keep verdict."""
    from nlp_to_nosql_spark.functions.text import NORMALIZE_SQL

    # plain NORMALIZE (no NULL coalesce) — the dedup-family twin
    # convention (dedup8/dedup11): tokenized() leaves NULL text as a
    # NULL token array, whose grams never join on either engine
    norm = NORMALIZE_SQL.format(c=text_col)
    grams = (
        f"unnest(list_distinct(CASE WHEN len(ws) >= {k} THEN "
        f"[array_to_string(ws[i:i+{k - 1}], ' ') "
        f"for i in range(1, len(ws) - {k} + 2)] "
        "ELSE [array_to_string(ws, ' ')] END))"
    )
    return (
        f"WITH tw AS (SELECT {id_col}, string_split({norm}, ' ') AS ws "
        f"FROM {table} WHERE NOT ({eval_pred})), "
        f"tg AS (SELECT {id_col}, {grams} AS g FROM tw), "
        f"ew AS (SELECT string_split({norm}, ' ') AS ws "
        f"FROM {table} WHERE ({eval_pred})), "
        f"eg AS (SELECT DISTINCT g FROM (SELECT {grams} AS g FROM ew)), "
        f"hits AS (SELECT {id_col}, CAST(COUNT(*) AS BIGINT) AS "
        "n_shared_grams FROM tg JOIN eg USING (g) "
        f"GROUP BY {id_col}) "
        f"SELECT t.{id_col}, COALESCE(h.n_shared_grams, 0) AS "
        "n_shared_grams, (h.n_shared_grams IS NULL) AS keep "
        f"FROM (SELECT {id_col} FROM {table} WHERE NOT ({eval_pred})) t "
        f"LEFT JOIN hits h USING ({id_col})"
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """CCNet's ACTUAL first stage (Wenzek et al., arXiv:1911.00359 §3.1):
    dedup at PARAGRAPH grain across the whole corpus, then reassemble
    each document from its surviving paragraphs — :func:`dedup_exact`
    keeps/drops whole documents; CCNet hashes every newline-delimited
    paragraph, drops any paragraph whose (normalized) hash was already
    seen, and keeps the document with whatever text remains.  "First
    seen" is made deterministic and engine-reproducible as the minimum
    ``(id, position)`` over the corpus for each paragraph key.

    Keys are ``md5(normalized paragraph)`` — the :func:`dedup_exact`
    fingerprint at paragraph grain, so the census/first-occurrence
    shuffle moves 16-byte keys, never paragraph text.  Paragraphs whose
    normalized form is EMPTY (blank lines, whitespace runs) carry no
    content to dedup and are always kept, preserving document structure.

    Returns one row per input document: ``(id, clean_text,
    n_paragraphs, n_removed)`` — ``clean_text`` rejoins the surviving
    ORIGINAL paragraphs with ``sep`` (an entirely-duplicate document
    reads as ``''``; NULL text stays NULL, the dedup-family
    convention).

    Plan shape (100 TB): one paragraph explode (scan-side), one
    groupBy on the 128-bit key (min-(id,pos) census — the dedup1
    exchange at paragraph grain), one key-equi join back, and one
    groupBy on the id to reassemble — paragraph TEXT shuffles exactly
    once, in the rebuild.  DuckDB twin: :func:`paragraph_dedup_sql`.
    """
    base, paras, firsts = _paragraph_stage(df, id_col, text_col, sep)
    kept = paras.join(firsts, "_key", "left").filter(
        F.col("_blank")
        | (
            (F.col("_f.i") == F.col(id_col))
            & (F.col("_f.p") == F.col("pos"))
        )
    )
    return _paragraph_rebuild(base, kept, id_col, sep)


def _paragraph_stage(
    df: DataFrame, id_col: str, text_col: str, sep: str
) -> tuple:
    """Shared paragraph staging of the dedup19/dedup20 family:
    ``(base, paras, firsts)`` — the split document frame, the keyed
    paragraph stream ``(id, pos, _para, _key, _blank)``, and the
    first-occurrence census ``(_key, _f{i, p, t})`` (min ``(id, pos)``
    per normalized-paragraph fingerprint, carrying the first
    occurrence's raw text for the near-dup tier's signatures — any
    occurrence would do, since keys fingerprint the NORMALIZED text
    the signatures also tokenize)."""
    # F.split takes a Java REGEX but the rejoin uses sep as a LITERAL,
    # so escape it — re.escape never backslashes alphanumerics, which
    # is exactly the subset Java regex also accepts as escaped
    # literals; without this a sep like '.' or '|' splits on the wrong
    # boundaries (r12 advice).
    split_pat = re.escape(sep)
    base = persisted(
        df.select(
            F.col(id_col), F.split(F.col(text_col), split_pat).alias("_ps")
        ),
        "paragraphs",
    )
    paras = base.select(
        F.col(id_col), F.posexplode("_ps").alias("_pos0", "_para")
    ).select(
        F.col(id_col),
        (F.col("_pos0") + 1).cast("int").alias("pos"),
        F.col("_para"),
        fingerprint(F.col("_para")).alias("_key"),
        (normalize_text(F.col("_para")) == "").alias("_blank"),
    )
    firsts = (
        paras.filter(~F.col("_blank"))
        .groupBy("_key")
        .agg(
            F.min(
                F.struct(
                    F.col(id_col).alias("i"),
                    F.col("pos").alias("p"),
                    F.col("_para").alias("t"),
                )
            ).alias("_f")
        )
    )
    return base, paras, firsts


def _paragraph_rebuild(
    base: DataFrame, kept: DataFrame, id_col: str, sep: str
) -> DataFrame:
    """Shared rebuild tail: surviving paragraphs rejoin in original
    order; NULL text stays NULL; a fully-removed document reads ''."""
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("_para")))
                ),
                lambda s: s.getField("_para"),
            ),
            sep,
        ).alias("_clean"),
        F.count(F.lit(1)).cast("long").alias("_n_kept"),
    )
    n_paras = F.size("_ps").cast("long")
    return base.join(rebuilt, id_col, "left").select(
        F.col(id_col),
        F.when(F.col("_ps").isNotNull(), F.coalesce("_clean", F.lit("")))
        .alias("clean_text"),
        F.when(F.col("_ps").isNotNull(), n_paras).alias("n_paragraphs"),
        F.when(
            F.col("_ps").isNotNull(),
            n_paras - F.coalesce("_n_kept", F.lit(0).cast("long")),
        ).alias("n_removed"),
    )


def paragraph_dedup_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`paragraph_dedup` (newline separator) —
    identical split, md5-of-normalized keys, min-(id, pos) first
    occurrence, blank-paragraph keep rule, and ordered rejoin."""
    from nlp_to_nosql_spark.functions.text import FINGERPRINT_SQL

    key = FINGERPRINT_SQL.format(c="_para")
    blank = NORMALIZE_SQL.format(c="_para") + " = ''"
    return (
        f"WITH pd_base AS (SELECT {id_col}, "
        f"string_split({text_col}, chr(10)) AS ps FROM {table}), "
        f"pd_paras AS (SELECT {id_col}, CAST(i AS INT) AS pos, "
        "ps[i] AS _para FROM pd_base, "
        "UNNEST(range(1, len(ps) + 1)) u(i)), "
        f"pd_keyed AS (SELECT {id_col}, pos, _para, {key} AS key, "
        f"{blank} AS blank FROM pd_paras), "
        f"pd_firsts AS (SELECT key, {id_col} AS fid, pos AS fpos "
        "FROM pd_keyed WHERE NOT blank "
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY key "
        f"ORDER BY {id_col}, pos) = 1), "
        f"pd_kept AS (SELECT k.{id_col}, k.pos, k._para "
        "FROM pd_keyed k LEFT JOIN pd_firsts f ON k.key = f.key "
        f"WHERE k.blank OR (k.{id_col} = f.fid AND k.pos = f.fpos)), "
        f"pd_reb AS (SELECT {id_col}, "
        "COALESCE(array_to_string(list(_para ORDER BY pos), chr(10)), '') "
        "AS _clean, CAST(COUNT(*) AS BIGINT) AS n_kept "
        f"FROM pd_kept GROUP BY {id_col}) "
        f"SELECT b.{id_col}, "
        "CASE WHEN b.ps IS NOT NULL THEN COALESCE(r._clean, '') END "
        "AS clean_text, "
        "CASE WHEN b.ps IS NOT NULL THEN CAST(len(b.ps) AS BIGINT) END "
        "AS n_paragraphs, "
        "CASE WHEN b.ps IS NOT NULL THEN "
        "CAST(len(b.ps) - COALESCE(r.n_kept, 0) AS BIGINT) END "
        "AS n_removed "
        f"FROM pd_base b LEFT JOIN pd_reb r USING ({id_col})"
    )


def paragraph_neardup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    k: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """The FUZZY tier at paragraph grain (RefinedWeb's line-level dedup
    generalized: Penedo et al., arXiv:2306.01116 §3.4 dedup at
    sub-document grain; CCNet §3.1 is the exact tier —
    :func:`paragraph_dedup`): after exact first-occurrence dedup of
    normalized paragraphs, NEAR-identical surviving paragraphs dedup
    too via banded MinHash-LSH over the DISTINCT-paragraph stream.

    Semantics, in order:

    1. exact tier — every repeat of a normalized paragraph drops,
       keeping the corpus-wide first ``(id, pos)`` occurrence
       (:func:`paragraph_dedup` verbatim);
    2. fuzzy tier — among the surviving DISTINCT paragraphs, MinHash
       signatures (:func:`minhash_signatures_md5` — the
       oracle-reproducible arithmetic-permutation family) band into
       LSH buckets; verified candidate pairs with estimated Jaccard ≥
       ``threshold`` orient by first-occurrence order, and the LATER
       paragraph of each pair drops everywhere (lower-(id, pos)-wins,
       the repo's drop-list convention — near-dup is not transitive,
       so this is pairwise suppression, not clustering);
    3. blank paragraphs always survive (structure preservation), and
       documents rebuild from their remaining paragraphs in original
       order — same output contract as dedup19: ``(id, clean_text,
       n_paragraphs, n_removed)``.

    Plan shape (100 TB): the exact tier's paragraph census PLUS one
    LSH pass over DISTINCT paragraphs only (Heaps-law-ish — repeats
    already collapsed), whose signatures are scan-side folds and whose
    banding shuffle moves (key, band, bucket) ints; paragraph text
    shuffles once, in the rebuild.  DuckDB twin:
    :func:`paragraph_neardup_sql` — with one collision-bounded
    divergence (the :func:`minhash_lsh_pairs` banding caveat at
    paragraph grain): Spark bands on ``xxhash64`` of the signature
    slice while the twin compares slices directly, so a 64-bit
    slice-hash collision could admit a verified pair (est_jaccard ≥
    threshold spread across bands with no fully-equal band) that the
    SQL lacks — birthday-bounded, never observed, and pinned as
    understood in the property test's docstring.
    """
    base, paras, firsts = _paragraph_stage(df, id_col, text_col, sep)
    reps = firsts.select(
        F.col("_key"),
        F.col("_f.i").alias("_fid"),
        F.col("_f.p").alias("_fpos"),
        F.col("_f.t").alias("_ptext"),
    )
    pairs = minhash_lsh_pairs(
        reps,
        "_key",
        "_ptext",
        k=k,
        num_perm=num_perm,
        bands=bands,
        threshold=threshold,
    )
    oa = reps.select(
        F.col("_key").alias("id_a"),
        F.col("_fid").alias("_fa"),
        F.col("_fpos").alias("_pa"),
    )
    ob = reps.select(
        F.col("_key").alias("id_b"),
        F.col("_fid").alias("_fb"),
        F.col("_fpos").alias("_pb"),
    )
    a_earlier = (F.col("_fa") < F.col("_fb")) | (
        (F.col("_fa") == F.col("_fb")) & (F.col("_pa") < F.col("_pb"))
    )
    drops = (
        pairs.join(oa, "id_a")
        .join(ob, "id_b")
        .select(
            F.when(a_earlier, F.col("id_b"))
            .otherwise(F.col("id_a"))
            .alias("_key")
        )
        .distinct()
        .withColumn("_near", F.lit(True))
    )
    kept = (
        paras.join(firsts, "_key", "left")
        .join(drops, "_key", "left")
        .filter(
            F.col("_blank")
            | (
                (F.col("_f.i") == F.col(id_col))
                & (F.col("_f.p") == F.col("pos"))
                & F.col("_near").isNull()
            )
        )
    )
    return _paragraph_rebuild(base, kept, id_col, sep)


def distinct_paragraphs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """The corpus's DISTINCT non-blank paragraph stream — one row per
    normalized-paragraph fingerprint with its first ``(id, pos)``
    occurrence and that occurrence's raw text: ``(para_key, first_id,
    first_pos, para_text)``.  The frame dedup19 censuses and dedup20's
    LSH tier runs over, exposed so evals (``eval11``) and ad-hoc
    paragraph analytics consume the same staging."""
    _base, _paras, firsts = _paragraph_stage(df, id_col, text_col, sep)
    return firsts.select(
        F.col("_key").alias("para_key"),
        F.col("_f.i").alias("first_id"),
        F.col("_f.p").alias("first_pos"),
        F.col("_f.t").alias("para_text"),
    )


def _paragraph_census_ctes(table: str, id_col: str, text_col: str) -> str:
    """The dedup19/dedup20 census CTE chain (``pd_base`` →
    ``pd_firsts``), shared by the rebuild twins and the eval11
    ground-truth/predicted pair relations."""
    from nlp_to_nosql_spark.functions.text import FINGERPRINT_SQL

    key = FINGERPRINT_SQL.format(c="_para")
    blank = NORMALIZE_SQL.format(c="_para") + " = ''"
    return (
        f"pd_base AS (SELECT {id_col}, "
        f"string_split({text_col}, chr(10)) AS ps FROM {table}), "
        f"pd_paras AS (SELECT {id_col}, CAST(i AS INT) AS pos, "
        "ps[i] AS _para FROM pd_base, "
        "UNNEST(range(1, len(ps) + 1)) u(i)), "
        f"pd_keyed AS (SELECT {id_col}, pos, _para, {key} AS key, "
        f"{blank} AS blank FROM pd_paras), "
        f"pd_firsts AS (SELECT key, {id_col} AS fid, pos AS fpos, "
        "_para AS _ptext FROM pd_keyed WHERE NOT blank "
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY key "
        f"ORDER BY {id_col}, pos) = 1)"
    )


def _paragraph_minhash_ctes(
    k: int,
    num_perm: int,
    bands: int,
    threshold: float,
    source: str = "pd_firsts",
) -> str:
    """dedup20's md5-arithmetic-permutation MinHash chain over the
    ``pd_firsts`` census CTE (``pn_words`` → ``pn_pairs``) — the
    dedup3/dedup10 family at paragraph grain, shared by the rebuild
    twin and eval11's predicted side.  ``source`` swaps the input CTE
    (eval12 feeds the consistent-hash-SAMPLED census instead)."""
    if bands <= 0 or bands > num_perm or num_perm % bands:
        raise ValueError("bands must divide num_perm")
    rows = num_perm // bands
    norm_t = NORMALIZE_SQL.format(c="_ptext")
    return (
        f"pn_words AS (SELECT key, string_split({norm_t}, ' ') AS w "
        f"FROM {source}), "
        "pn_sh AS (SELECT key, unnest(list_distinct("
        f"CASE WHEN len(w) >= {k} "
        f"THEN [array_to_string(w[i:i+{k - 1}], ' ') "
        f"for i in range(1, len(w) - {k - 2})] "
        "ELSE [array_to_string(w, ' ')] END)) AS s FROM pn_words), "
        "pn_hs AS (SELECT key, CAST(CAST('0x' || substr(md5(s), 1, 7) "
        "AS UBIGINT) AS BIGINT) AS base FROM pn_sh), "
        "pn_mh AS (SELECT key, i, "
        "MIN(((2 * i + 1) * base + i * 2654435761) % 2147483647) AS h "
        f"FROM pn_hs, UNNEST(range(0, {num_perm})) u(i) "
        "GROUP BY key, i), "
        "pn_sig AS (SELECT key, list(h ORDER BY i) AS sig "
        "FROM pn_mh GROUP BY key), "
        "pn_banded AS (SELECT key, b, "
        f"sig[b*{rows}+1 : b*{rows}+{rows}] AS chunk "
        f"FROM pn_sig, UNNEST(range(0, {bands})) v(b)), "
        "pn_cand AS (SELECT DISTINCT a.key AS key_a, b.key AS key_b "
        "FROM pn_banded a JOIN pn_banded b "
        "ON a.b = b.b AND a.chunk = b.chunk AND a.key < b.key), "
        "pn_pairs AS (SELECT key_a, key_b FROM ("
        f"SELECT key_a, key_b, ROUND(CAST(len(list_filter("
        f"range(1, {num_perm + 1}), j -> sa.sig[j] = sb.sig[j])) "
        f"AS DOUBLE) / {num_perm}, 6) AS est_jaccard "
        "FROM pn_cand JOIN pn_sig sa ON sa.key = key_a "
        "JOIN pn_sig sb ON sb.key = key_b) t "
        f"WHERE est_jaccard >= {threshold})"
    )


def paragraph_neardup_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> str:
    """DuckDB twin of :func:`paragraph_neardup` (newline separator) —
    the dedup19 census CTEs, the dedup3/dedup10-style md5
    arithmetic-permutation MinHash over the distinct-paragraph stream,
    the same banding/verification/orientation, the same rebuild."""
    return (
        "WITH "
        + _paragraph_census_ctes(table, id_col, text_col)
        + ", "
        + _paragraph_minhash_ctes(k, num_perm, bands, threshold)
        + ", "
        "pn_drops AS (SELECT DISTINCT CASE WHEN (fa.fid < fb.fid) OR "
        "(fa.fid = fb.fid AND fa.fpos < fb.fpos) "
        "THEN p.key_b ELSE p.key_a END AS key "
        "FROM pn_pairs p "
        "JOIN pd_firsts fa ON fa.key = p.key_a "
        "JOIN pd_firsts fb ON fb.key = p.key_b), "
        f"pd_kept AS (SELECT k.{id_col}, k.pos, k._para "
        "FROM pd_keyed k LEFT JOIN pd_firsts f ON k.key = f.key "
        "LEFT JOIN pn_drops d ON k.key = d.key "
        f"WHERE k.blank OR (k.{id_col} = f.fid AND k.pos = f.fpos "
        "AND d.key IS NULL)), "
        f"pd_reb AS (SELECT {id_col}, "
        "COALESCE(array_to_string(list(_para ORDER BY pos), chr(10)), '') "
        "AS _clean, CAST(COUNT(*) AS BIGINT) AS n_kept "
        f"FROM pd_kept GROUP BY {id_col}) "
        f"SELECT b.{id_col}, "
        "CASE WHEN b.ps IS NOT NULL THEN COALESCE(r._clean, '') END "
        "AS clean_text, "
        "CASE WHEN b.ps IS NOT NULL THEN CAST(len(b.ps) AS BIGINT) END "
        "AS n_paragraphs, "
        "CASE WHEN b.ps IS NOT NULL THEN "
        "CAST(len(b.ps) - COALESCE(r.n_kept, 0) AS BIGINT) END "
        "AS n_removed "
        f"FROM pd_base b LEFT JOIN pd_reb r USING ({id_col})"
    )


def duplicated_spans(
    df: DataFrame, id_col: str, text_col: str, k: int = 5, stride: int = 2
) -> DataFrame:
    """Token spans (k-token chunks, strided) shared by more than one
    document: ``(chunk, n_docs)``.

    The cross-document "copied span" detector a training-data pipeline
    runs before substring-level dedup (recall is alignment-conditional at
    stride > 1 — see :func:`chunk_spans`; stride=1 is the exact mode):
    explode per-doc distinct chunks, then one shuffle on the chunk key
    counting distinct docs.  The
    count-distinct is cheap because ``array_distinct`` already dropped
    within-doc repeats, so the groupBy sees each (chunk, doc) once and
    ``n_docs = count(*)``.  At 100 TB the chunk string would be replaced
    by ``xxhash64(chunk)`` before the shuffle (8-byte keys); the string
    form here keeps the result oracle-comparable.
    """
    chunks = tokenized(df, id_col, text_col).select(
        F.col(id_col),
        F.explode(
            F.array_distinct(chunk_spans(F.col("_words"), k, stride))
        ).alias("chunk"),
    )
    return (
        chunks.groupBy("chunk")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .filter(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------------------------
# incremental ingestion dedup (batch vs existing corpus)
# ---------------------------------------------------------------------------

#: Bloom auto-sizing knobs: registers for the sizing HLL (m=1024 →
#: ±1.04/√1024 ≈ ±3.3 % NDV error, far tighter than the 10× headroom the
#: sizing applies), bits-per-distinct-fingerprint target, and the cap
#: on the broadcast word array (2²⁷ bits = 16 MB of longs — past that,
#: prefer raising k_hashes or sharding the corpus filter).
_BLOOM_HLL_M = 1024
_BLOOM_BITS_PER_KEY = 10
_BLOOM_MAX_BITS = 1 << 27
_BLOOM_MIN_BITS = 1 << 10
# Above this word count the Bloom probe switches from a codegen'd
# Column-literal array to a broadcast numpy array + Arrow pandas_udf
# (see _bloom_stage) — 1024 words = the former 2^16-bit static default.
_BLOOM_LITERAL_MAX_WORDS = 1024


def auto_bloom_bits(corpus_fps: DataFrame, fp_col: str = "fp") -> int:
    """Size a Bloom filter from the corpus itself: one fixed-memory HLL
    pass over the (already-persisted) fingerprint projection estimates
    the distinct-fingerprint count, and ``m_bits`` becomes
    ``_BLOOM_BITS_PER_KEY × NDV`` rounded UP to a power of two —
    clamped to ``[2¹⁰, _BLOOM_MAX_BITS]``.

    The HLL shuffle moves ≤ ``_BLOOM_HLL_M`` rows per map partition
    (the sketch contract), so sizing costs one cheap extra job over the
    cached fingerprints — never a second corpus-wide exchange.  At 10
    bits/key with k=3 the admission filter's false-positive rate stays
    ≈1 % however large the corpus grows, which is what keeps the
    Bloom-positive anti-join sliver small at 100 TB (a mis-sized static
    filter silently degrades to anti-joining most of the batch).
    """
    from nlp_to_nosql_spark.operators.sketch import (
        hll_estimate,
        hll_registers_of,
    )

    regs = hll_registers_of(corpus_fps, fp_col, m=_BLOOM_HLL_M).collect()
    ndv = hll_estimate(
        [(r["reg"], r["max_rho"]) for r in regs], m=_BLOOM_HLL_M
    )
    # The word array allocates m_bits // 64 longs, so every size this
    # function returns must be 64-divisible or a position could index
    # one word past the buffer; powers of two ≥ 64 always are.
    target = max(_BLOOM_MIN_BITS, int(_BLOOM_BITS_PER_KEY * max(ndv, 1.0)))
    m_bits = 1 << (target - 1).bit_length()  # next power of two ≥ target
    return min(m_bits, _BLOOM_MAX_BITS)


def _bloom_words(
    cfp: DataFrame, m_bits: int, k_hashes: int, n_words: int
) -> list[int]:
    """OR-fold the corpus fingerprints' k bit positions into the
    ``m_bits``-bit word array — the only corpus-wide pass, shuffling
    ≤ ``m_bits/64`` rows, collected bounded (≤ 16 MB at the cap)."""

    def positions(i: int) -> Column:
        return F.pmod(F.xxhash64(F.col("fp"), F.lit(i)), F.lit(m_bits))

    pos = cfp.select(
        F.explode(
            F.array(*[positions(i) for i in range(k_hashes)])
        ).alias("pos")
    )
    word_rows = (
        pos.select(
            (F.col("pos") / F.lit(64)).cast("long").alias("w"),
            F.expr("shiftleft(1L, cast(pos % 64 as int))").alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("bits"))
        .collect()
    )
    words = [0] * n_words
    for r in word_rows:
        words[int(r["w"])] = int(r["bits"])
    return words


def _bloom_stage(
    batch: DataFrame,
    words: list[int],
    m_bits: int,
    k_hashes: int,
    text_col: str,
) -> DataFrame:
    """Map-side Bloom probe: ``batch`` plus ``_fp`` (fingerprint) and
    ``_maybe`` (all k bit tests hit).  Rows with ``_maybe = false`` are
    DEFINITELY absent from the corpus and never shuffle.

    Two probe kernels, same bit tests: small filters (≤
    ``_BLOOM_LITERAL_MAX_WORDS`` 64-bit words) embed the word array as
    a Column literal and stay inside whole-stage codegen; larger ones
    ship the words ONCE per executor as a ``SparkContext.broadcast``
    numpy array probed by a vectorized Arrow ``pandas_udf`` over the
    SAME JVM-computed ``xxhash64`` positions (only k int64 columns
    cross to Python).  The split exists because a ``F.lit`` array
    literal is re-serialized into every task and blows up codegen as
    m grows — measured 90.5 s vs 11.6 s at m=2²³ on the 100× probe —
    while the broadcast path is flat in m (16 MB array at the 2²⁷-bit
    cap).  Path equivalence is test-pinned
    (``test_bloom_probe_kernels_agree``)."""
    # Stage each probe position as a projected attribute so the hash is
    # computed once per (row, i), then fold the k bit tests.
    bfp = batch.withColumn("_fp", fingerprint(F.col(text_col)))
    staged = bfp.select(
        *bfp.columns,
        *[
            F.pmod(F.xxhash64(F.col("_fp"), F.lit(i)), F.lit(m_bits)).alias(
                f"_p{i}"
            )
            for i in range(k_hashes)
        ],
    )
    if len(words) <= _BLOOM_LITERAL_MAX_WORDS:
        lit_words = F.lit(words)
        probe = None
        for i in range(k_hashes):
            hit = (
                F.element_at(
                    lit_words,
                    (F.col(f"_p{i}") / F.lit(64)).cast("int") + F.lit(1),
                ).bitwiseAND(
                    F.expr(f"shiftleft(1L, cast(_p{i} % 64 as int))")
                )
                != F.lit(0)
            )
            probe = hit if probe is None else probe & hit
    else:
        import numpy as np
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        wb = batch.sparkSession.sparkContext.broadcast(
            np.array(words, dtype=np.int64)
        )

        def _bloom_probe(*pos_cols):
            # (x >> s) & 1 extracts bit s of a two's-complement int64
            # for any s in [0, 63] — arithmetic shift only pads ABOVE
            # bit 0, so signed words need no uint64 reinterpretation.
            w = wb.value
            out = None
            for p in pos_cols:
                pv = p.to_numpy(dtype=np.int64)
                hit = ((w[pv >> 6] >> (pv & 63)) & 1) != 0
                out = hit if out is None else (out & hit)
            return pd.Series(out)

        # real type objects, not strings: the module-wide `from
        # __future__ import annotations` would stringify inline hints
        # and pyspark's eval-type inference cannot resolve them here
        _bloom_probe.__annotations__ = {
            "pos_cols": pd.Series,
            "return": pd.Series,
        }
        probe = pandas_udf(_bloom_probe, "boolean")(
            *[F.col(f"_p{i}") for i in range(k_hashes)]
        )
    return staged.withColumn("_maybe", probe).drop(
        *[f"_p{i}" for i in range(k_hashes)]
    )


def incremental_new_docs(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    m_bits: int | None = 1 << 16,
    k_hashes: int = 3,
) -> DataFrame:
    """Batch-vs-corpus incremental dedup: return the batch rows whose
    (normalized-text) fingerprint does NOT already exist in the corpus —
    the admission filter a continuously-ingesting 100 TB corpus runs on
    every new crawl batch.

    Result is EXACTLY ``batch ⟕̸ corpus`` (left anti join on
    :func:`~nlp_to_nosql_spark.functions.text.fingerprint`); the Bloom
    machinery below is purely an acceleration and cannot change the
    answer, because Bloom positives are exact-verified and Bloom
    negatives are definite (no false negatives by construction).
    Exact duplicates WITHIN the batch are all retained (dedup inside a
    batch is :func:`dedup_exact`'s job).

    Plan, scale-first: the corpus projects to 16-byte fingerprints, k
    hash positions per fingerprint OR-fold into an ``m_bits``-bit Bloom
    bit set via ONE partial-aggregated groupBy on the 64-bit word index
    — the only corpus-wide pass, shuffling ≤ m/64 rows.  The word array
    (≤ ``m_bits/64`` longs, 8 KB at the default 2¹⁶ — a BOUNDED collect,
    same discipline as IVF centroids) broadcasts as a literal into a
    map-side batch filter: rows failing any of the k bit probes are
    DEFINITELY new and never shuffle; only the Bloom-positive sliver
    (true dups + ~(1-e^{-kn/m})^k false positives) pays the exact anti
    join.  When the batch ≪ corpus — the ingestion steady state — this
    replaces an all-corpus shuffle with an 8 KB broadcast plus an anti
    join on a few percent of the batch.  ``m_bits=None`` AUTO-SIZES the
    filter from the corpus itself (:func:`auto_bloom_bits`: HLL-estimate
    the distinct-fingerprint count off the persisted projection, take
    ~10 bits/key rounded to a power of two, capped at 2²⁷ bits) — the right
    default for an unknown-scale corpus, since a static ``m_bits``
    sized for yesterday's corpus silently degrades to anti-joining most
    of the batch as the corpus outgrows it.
    """
    if m_bits is not None and (m_bits % 64 or m_bits <= 0):
        raise ValueError("m_bits must be a positive multiple of 64")
    if not 1 <= k_hashes <= 16:
        raise ValueError("k_hashes must be in [1, 16]")

    cfp = persisted(
        corpus.select(fingerprint(F.col(text_col)).alias("fp")).distinct(),
        "corpus_fps",
    )
    if m_bits is None:
        # one fixed-memory pass over the cached fingerprints; every
        # auto-sized value is a power of two ≥ 1024, hence 64-divisible
        m_bits = auto_bloom_bits(cfp)
    n_words = m_bits // 64

    words = _bloom_words(cfp, m_bits, k_hashes, n_words)
    staged = _bloom_stage(batch, words, m_bits, k_hashes, text_col)

    definitely_new = staged.filter(~F.col("_maybe"))
    survived = staged.filter(F.col("_maybe")).join(
        cfp.withColumnRenamed("fp", "_fp"), "_fp", "left_anti"
    )
    return definitely_new.unionByName(survived).drop("_fp", "_maybe")
