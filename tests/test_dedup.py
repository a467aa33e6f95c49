"""Dedup operator semantics on a crafted corpus with known duplicates."""

import itertools
import re

import pytest
from pyspark.sql import functions as F

from nlp_to_nosql_spark.operators import dedup as D

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat sleeps "
    "near the warm fire and the birds sing in the tall green trees"
)
NEAR = BASE.replace("lazy dog", "lazy cat")            # 1 word differs
FAR = "completely different content about spark query engines and shuffles"

CORPUS = [
    (1, BASE),
    (2, BASE),                         # exact dup of 1
    (3, "  " + BASE.upper() + "  "),   # dup after normalization
    (4, NEAR),                         # near-dup of 1
    (5, FAR),
    (6, "tiny doc"),                   # shorter than shingle width
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(CORPUS, "doc_id: long, text: string")


def test_dedup_exact(docs):
    out = D.dedup_exact(docs, "doc_id", "text").collect()
    by_id = {r["doc_id"]: r["n_copies"] for r in out}
    assert by_id[1] == 3          # 1, 2, 3 collapse
    assert by_id[4] == 1 and by_id[5] == 1 and by_id[6] == 1
    assert len(out) == 4


def test_shingles_short_text(spark):
    df = spark.createDataFrame([(1, "tiny doc")], "i: long, t: string")
    words = F.split(D.normalize_text(F.col("t")), " ")
    row = df.select(D.shingles_of_words(words, 3).alias("s")).first()
    assert row["s"] == ["tiny doc"]


def test_shingles_count(spark):
    df = spark.createDataFrame([(1, "a b c d e")], "i: long, t: string")
    words = F.split(D.normalize_text(F.col("t")), " ")
    row = df.select(D.shingles_of_words(words, 3).alias("s")).first()
    assert row["s"] == ["a b c", "b c d", "c d e"]


def test_ngram_jaccard_finds_near_dups(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.5).collect()
    }
    assert pairs[(1, 2)] == 1.0 and pairs[(1, 3)] == 1.0 and pairs[(2, 3)] == 1.0
    assert (1, 4) in pairs and 0.5 <= pairs[(1, 4)] < 1.0
    assert not any(5 in p or 6 in p for p in pairs)


def test_ngram_jaccard_hashed_keys_equal_string_keys(docs):
    """The index keys each shingle by its 8-byte xxhash64, yet the pair
    set and scores must equal a pure-Python Jaccard of the normalized
    3-word shingle STRING sets — Jaccard only ever counts set
    cardinalities, so the representation of the set elements is
    invisible absent a 64-bit collision."""
    def shingle_set(text, k=3):
        words = re.sub(r"\s+", " ", text.strip(" ").lower()).split(" ")
        if len(words) < k:
            return {" ".join(words)}
        return {" ".join(words[i:i + k]) for i in range(len(words) - k + 1)}

    sets = {i: shingle_set(t) for i, t in CORPUS}
    want = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        if j >= 0.1:
            want[(a, b)] = round(j, 6)
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(
            docs, "doc_id", "text", k=3, threshold=0.1
        ).collect()
    }
    assert want  # non-vacuous
    assert got == want


def test_minhash_lsh_finds_near_dups(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in D.minhash_lsh_pairs(
            docs, "doc_id", "text", k=3, num_perm=64, bands=16, threshold=0.5
        ).collect()
    }
    assert pairs[(1, 2)] == 1.0 and pairs[(1, 3)] == 1.0
    assert (1, 4) in pairs  # near-dup caught by banding
    assert not any(5 in p for p in pairs)


def test_minhash_estimate_tracks_exact_jaccard(docs):
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.1).collect()
    }
    est = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in D.minhash_lsh_pairs(
            docs, "doc_id", "text", k=3, num_perm=64, bands=32, threshold=0.1
        ).collect()
    }
    for pair in [(1, 4)]:
        assert abs(est[pair] - exact[pair]) < 0.25  # 64 perms → ~1/8 stderr


def test_simhash_identical_and_near(docs, spark):
    sigs = {
        r["doc_id"]: r["s"]
        for r in docs.select("doc_id", D.simhash60_md5("text").alias("s")).collect()
    }
    assert sigs[1] == sigs[2] == sigs[3]   # normalization-equal → same signature
    ham14 = bin(sigs[1] ^ sigs[4]).count("1")
    ham15 = bin(sigs[1] ^ sigs[5]).count("1")
    assert ham14 < ham15  # near-dup is closer than unrelated text


def test_simhash_pairs(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in D.simhash_pairs(docs, "doc_id", "text", max_hamming=8, bands=4).collect()
    }
    assert pairs[(1, 2)] == 0 and pairs[(1, 3)] == 0 and pairs[(2, 3)] == 0
    assert (1, 4) in pairs
    assert not any(5 in p for p in pairs)


def test_char_ngram_sketch(spark):
    from pyspark.sql import types as T
    from nlp_to_nosql_spark.operators.dedup import char_ngram_sketch

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    long_a = "the quick brown fox jumps over the lazy dog " * 3
    df = spark.createDataFrame(
        [
            (1, long_a),
            (2, long_a),          # identical → identical sketch
            (3, "completely different content that shares nothing here"),
            (4, "tiny"),          # shorter than n → whole-string gram
        ],
        schema,
    )
    out = {r["doc_id"]: (r["min_fp"], r["n_grams"]) for r in
           char_ngram_sketch(df, "doc_id", "text", n=32).collect()}
    assert out[1] == out[2]
    assert out[1] != out[3]
    assert out[4][1] == 1  # single whole-string gram
    assert all(len(v[0]) == 32 for v in out.values())  # md5 hex


def test_duplicated_spans(spark):
    from pyspark.sql import types as T
    from nlp_to_nosql_spark.operators.dedup import duplicated_spans

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    shared = "one two three four five"          # a full 5-token chunk
    df = spark.createDataFrame(
        [
            (1, shared + " alpha beta gamma delta epsilon"),
            (2, "zeta eta " + shared + " theta iota"),  # even offset → chunk aligns
            (3, "unrelated words that overlap with nothing at all here"),
            (4, "tiny doc"),                    # < k tokens → whole-text chunk
            (5, "tiny doc"),                    # duplicate short doc
        ],
        schema,
    )
    out = {r["chunk"]: r["n_docs"] for r in
           duplicated_spans(df, "doc_id", "text", k=5, stride=2).collect()}
    assert out.get(shared) == 2                 # shared span found across 1 and 2
    assert out.get("tiny doc") == 2             # short docs compare whole-text
    assert all(n >= 2 for n in out.values())    # only cross-doc repeats survive


def test_duplicated_spans_within_doc_repeat_not_counted(spark):
    from pyspark.sql import types as T
    from nlp_to_nosql_spark.operators.dedup import duplicated_spans

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    # The same 5-token chunk repeats INSIDE doc 1 but appears in no other
    # doc; stride 1 guarantees both copies align to a chunk start, and
    # array_distinct must collapse them before the cross-doc count.
    rep = "a b c d e"
    df = spark.createDataFrame(
        [(1, rep + " x " + rep), (2, "totally different words here now then")],
        schema,
    )
    out = {r["chunk"]: r["n_docs"] for r in
           duplicated_spans(df, "doc_id", "text", k=5, stride=1).collect()}
    assert rep not in out


def test_simhash_bands_widen_keeps_contract(spark, monkeypatch):
    """max_hamming >= bands previously dropped in-range pairs silently;
    bands now auto-widen so the output equals the exact Hamming filter."""
    from nlp_to_nosql_spark.operators import dedup as dd
    from pyspark.sql import functions as F

    # Signatures injected directly: ids 1,2 differ in 8 bits, 2 at each
    # multiple of 16 — one pair per 15-bit chunk of the 60-bit signature,
    # so no shared chunk at bands=4 — within max_hamming=10.
    sig_a = 0
    sig_b = 0
    for chunk in range(4):
        sig_b |= 0b11 << (chunk * 16)
    df = spark.createDataFrame([(1, "x"), (2, "y")], "doc_id long, text string")
    sig = F.when(F.col("doc_id") == 1, F.lit(sig_a)).otherwise(F.lit(sig_b))
    monkeypatch.setattr(dd, "simhash60_md5", lambda c: sig)
    out = dd.simhash_pairs(df, "doc_id", "text", max_hamming=10, bands=4)
    rows = out.collect()
    assert [(r["id_a"], r["id_b"], r["hamming"]) for r in rows] == [(1, 2, 8)]


def test_minhash_bands_validation(spark):
    import pytest as _pytest

    from nlp_to_nosql_spark.operators import dedup as dd

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    for bad in (0, 32, 7):  # zero, > num_perm, non-dividing
        with _pytest.raises(ValueError, match="bands"):
            dd.minhash_lsh_pairs(df, "doc_id", "text", num_perm=16, bands=bad)


def test_char_ngram_sketch_contentless_docs(spark):
    from nlp_to_nosql_spark.operators.dedup import char_ngram_sketch

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "real content here")], "doc_id long, text string"
    )
    got = {r["doc_id"]: (r["min_fp"], r["n_grams"]) for r in
           char_ngram_sketch(df, "doc_id", "text").collect()}
    assert got[1] == (None, 0)
    assert got[2] == (None, 0)
    assert got[3][0] is not None and got[3][1] >= 1


def test_winnowing_catches_misaligned_copies(spark):
    """The exact case strided chunking misses: a long copied span whose
    occurrences start at offsets differing by an odd delta.  Winnowing's
    guarantee is alignment-free: shared span >= k + w - 1 tokens ⇒ a
    shared fingerprint, wherever each copy starts."""
    from nlp_to_nosql_spark.operators.dedup import (
        duplicated_spans,
        winnowed_duplicated_spans,
    )

    span = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    docs = spark.createDataFrame(
        [
            (1, "prefix " + span + " one tail"),          # span at offset 1
            (2, span + " two totally different tail"),    # span at offset 0
            (3, "unrelated words that share nothing at all here"),
        ],
        "doc_id long, text string",
    )
    # strided chunks (stride=2) miss the odd-offset copy entirely…
    assert duplicated_spans(docs, "doc_id", "text", k=5, stride=2).count() == 0
    # …winnowing detects it (span = 10 tokens >= k + w - 1 = 8)
    got = winnowed_duplicated_spans(docs, "doc_id", "text", k=5, w=4).collect()
    assert len(got) >= 1
    assert all(r["n_docs"] == 2 for r in got)


def test_winnowing_density_below_stride1(spark):
    """Winnowing's exploded table must stay well under the stride-1 gram
    count (expected density ~2/(w+1)) — the whole point of selecting."""
    from pyspark.sql import functions as F

    from nlp_to_nosql_spark.operators.dedup import tokenized, winnow_fingerprints

    docs = spark.createDataFrame(
        [(i, " ".join(f"tok{i}_{j}" for j in range(200))) for i in range(20)],
        "doc_id long, text string",
    )
    t = tokenized(docs, "doc_id", "text")
    n_fps = t.select(
        F.explode(winnow_fingerprints(F.col("_words"), k=5, w=4)).alias("fp")
    ).count()
    n_grams = t.select(F.explode(F.col("_words"))).count()  # ≈ gram count
    assert n_fps < 0.65 * n_grams  # 2/(w+1)=0.4 expected; generous bound


def test_contamination_report(spark):
    """Verbatim and span-level train/eval leakage both surface; clean
    evals are absent from the report."""
    from nlp_to_nosql_spark.operators.dedup import contamination_report

    span = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    train = spark.createDataFrame(
        [
            (10, "the exact same document text appears twice here ok"),
            (12, "training page with " + span + " pasted in the middle of it"),
            (14, "completely unrelated training material nothing shared"),
        ],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame(
        [
            (1, "The exact   same document TEXT appears twice here ok"),  # exact (normalized)
            (3, span + " is the benchmark question body"),                # span leak
            (5, "a perfectly clean evaluation item with novel words"),    # clean
        ],
        "doc_id long, text string",
    )
    got = {r["eval_id"]: r for r in
           contamination_report(train, eval_df).collect()}
    assert 5 not in got                       # clean eval absent
    assert got[1]["n_exact_train_dups"] == 1  # verbatim leak found
    assert got[3]["n_exact_train_dups"] == 0
    assert got[3]["n_near_train_docs"] == 1   # span leak found
    assert got[3]["n_shared_fps"] >= 1


def test_winnowed_fps_staged_equals_column_form(spark):
    """The staged hot path (winnowed_fps) must emit exactly the
    (id, fp) multiset of the single-Column reference form — the 7x plan
    restructure is not allowed to change a single fingerprint."""
    from nlp_to_nosql_spark.operators.dedup import (
        tokenized,
        winnow_fingerprints,
        winnowed_fps,
    )

    docs = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "short doc"),
        (3, ""),
        (4, "the quick brown fox jumps over the lazy dog again and again"),
        (5, "one two three four five six seven eight nine ten eleven"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    ref = tokenized(df, "doc_id", "text").select(
        F.col("doc_id"),
        F.explode(winnow_fingerprints(F.col("_words"), 5, 4)).alias("fp"),
    )
    got = winnowed_fps(df, "doc_id", "text", 5, 4)
    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0


def test_incremental_new_docs_matches_anti_join(spark):
    """Bloom prefilter is pure acceleration: result must equal the plain
    fingerprint anti join — replays (same normalized text, new id) drop,
    novel docs survive, and exact dups WITHIN the batch both survive."""
    from nlp_to_nosql_spark.operators.dedup import incremental_new_docs

    corpus = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma  delta"), (3, "epsilon")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "alpha beta"),        # replay of 1 -> dropped
            (11, "Gamma Delta "),      # replay of 2 after normalize -> dropped
            (12, "zeta eta"),          # novel
            (13, "zeta eta"),          # within-batch dup of 12 -> BOTH kept
            (14, "theta"),             # novel
        ],
        "doc_id long, text string",
    )
    got = sorted(
        r["doc_id"] for r in incremental_new_docs(batch, corpus).collect()
    )
    assert got == [12, 13, 14]
    # tiny filter (more hash collisions) still exact — verification tier
    # absorbs every false positive
    tiny = sorted(
        r["doc_id"]
        for r in incremental_new_docs(
            batch, corpus, m_bits=64, k_hashes=2
        ).collect()
    )
    assert tiny == [12, 13, 14]


def test_bloom_auto_sizing_scales_with_corpus(spark):
    """A corpus ~50× the static default's comfort zone (2¹⁶ bits serves
    ~6.5k keys at 10 bits/key): auto-sizing must (a) track the true NDV,
    (b) keep map-side rejection of brand-new docs ≥ 90 %, where (c) the
    static default has saturated and passes almost everything through to
    the anti join."""
    from nlp_to_nosql_spark.functions.text import fingerprint
    from nlp_to_nosql_spark.operators.dedup import (
        _bloom_stage,
        _bloom_words,
        auto_bloom_bits,
    )

    n = 330_000
    corpus = spark.range(n).selectExpr(
        "id AS doc_id", "concat('corpus doc ', id) AS text"
    )
    cfp = corpus.select(fingerprint(F.col("text")).alias("fp"))
    m_auto = auto_bloom_bits(cfp)
    # power of two, ≥ ~10 bits/key under the HLL's ±3.3 % error
    assert m_auto & (m_auto - 1) == 0
    assert (1 << 21) <= m_auto <= (1 << 23)

    batch = spark.range(2000).selectExpr(
        "id AS doc_id", "concat('brand new ', id) AS text"
    )
    words = _bloom_words(cfp, m_auto, 3, m_auto // 64)
    rejected = (
        _bloom_stage(batch, words, m_auto, 3, "text")
        .filter(~F.col("_maybe"))
        .count()
    )
    assert rejected >= 0.9 * 2000
    # the saturated static default: nearly every new doc goes "maybe"
    words16 = _bloom_words(cfp, 1 << 16, 3, 1024)
    rejected16 = (
        _bloom_stage(batch, words16, 1 << 16, 3, "text")
        .filter(~F.col("_maybe"))
        .count()
    )
    assert rejected16 <= 0.1 * 2000


def test_bloom_probe_kernels_agree(spark, monkeypatch):
    """The Column-literal and broadcast-numpy Bloom probe kernels must
    produce bit-identical ``_maybe`` flags for the SAME word array —
    a broadcast-path false negative would silently skip the exact
    verification anti join and corrupt the result."""
    from nlp_to_nosql_spark.functions.text import fingerprint
    from nlp_to_nosql_spark.operators import dedup as dd

    corpus = spark.range(5000).selectExpr(
        "id AS doc_id", "concat('corpus doc ', id) AS text"
    )
    cfp = corpus.select(fingerprint(F.col("text")).alias("fp"))
    # 2^17 bits = 2048 words: above the 1024-word literal cutoff, and
    # sized so negative int64 words (bit 63 set) appear in the array
    m_bits = 1 << 17
    words = dd._bloom_words(cfp, m_bits, 3, m_bits // 64)
    assert any(w < 0 for w in words), "fixture must cover signed words"
    batch = spark.range(0, 4000).selectExpr(
        "id AS doc_id",
        "concat(if(id % 2 = 0, 'corpus doc ', 'brand new '), id) AS text",
    )

    def flags(df):
        return [
            r["_maybe"]
            for r in df.select("doc_id", "_maybe").orderBy("doc_id").collect()
        ]

    monkeypatch.setattr(dd, "_BLOOM_LITERAL_MAX_WORDS", 1 << 30)
    lit_flags = flags(dd._bloom_stage(batch, words, m_bits, 3, "text"))
    monkeypatch.setattr(dd, "_BLOOM_LITERAL_MAX_WORDS", 0)
    bc_flags = flags(dd._bloom_stage(batch, words, m_bits, 3, "text"))
    assert lit_flags == bc_flags
    # every true corpus member must probe "maybe" on both kernels
    # (no false negatives); the in-corpus half is doc_id % 2 == 0
    assert all(f for i, f in enumerate(lit_flags) if i % 2 == 0)


def test_bloom_auto_sizing_end_to_end_and_cap(spark, monkeypatch):
    from nlp_to_nosql_spark.operators.dedup import (
        auto_bloom_bits,
        incremental_new_docs,
    )
    from nlp_to_nosql_spark.functions.text import fingerprint

    corpus = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta"), (3, "epsilon")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(10, "alpha beta"), (12, "zeta eta"), (14, "theta")],
        "doc_id long, text string",
    )
    # m_bits=None: auto-sized filter, result still the exact anti join
    got = sorted(
        r["doc_id"]
        for r in incremental_new_docs(batch, corpus, m_bits=None).collect()
    )
    assert got == [12, 14]
    # the cap bounds the auto-sized broadcast (the 2^10 floor included)
    cfp = corpus.select(fingerprint(F.col("text")).alias("fp"))
    assert auto_bloom_bits(cfp) == 1 << 10
    monkeypatch.setattr(D, "_BLOOM_MAX_BITS", 64)
    assert auto_bloom_bits(cfp) == 64


def test_incremental_new_docs_validation_and_empty_corpus(spark):
    import pytest

    from nlp_to_nosql_spark.operators.dedup import incremental_new_docs

    batch = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    empty = spark.createDataFrame([], "doc_id long, text string")
    with pytest.raises(ValueError, match="m_bits"):
        incremental_new_docs(batch, empty, m_bits=100)
    with pytest.raises(ValueError, match="k_hashes"):
        incremental_new_docs(batch, empty, k_hashes=0)
    # empty corpus: everything is new, zero anti-join work
    assert [r["doc_id"] for r in incremental_new_docs(batch, empty).collect()] == [1]


def test_ngram_decontaminate_filters_shared_grams(spark):
    """A training doc sharing one exact k-gram with the eval set is
    removed; unrelated docs keep; short docs fall back to the
    whole-text gram (short train == short eval -> contamination)."""
    from nlp_to_nosql_spark.operators.dedup import ngram_decontaminate

    span = " ".join(f"w{i}" for i in range(13))
    train = spark.createDataFrame(
        [
            (1, f"prefix text {span} suffix tail"),   # contains eval 13-gram
            (2, "totally unrelated training words here"),
            (3, "tiny doc"),                          # short, equals eval 30
            (4, span[:-3] + " different ending here"),  # 12-gram overlap only
        ],
        "doc_id long, text string",
    )
    # note clean token boundaries: normalization keeps punctuation glued
    # to tokens ("w12?" != "w12"), so the planted span must stand alone
    eval_df = spark.createDataFrame(
        [(20, f"question {span} end"), (30, "tiny doc")],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in ngram_decontaminate(train, eval_df, k=13).collect()
    }
    assert not rows[1]["keep"] and rows[1]["n_shared_grams"] >= 1
    assert rows[2]["keep"] and rows[2]["n_shared_grams"] == 0
    assert not rows[3]["keep"]      # whole-text fallback collision
    assert rows[4]["keep"]          # 12 shared tokens != a shared 13-gram


def test_ngram_decontaminate_matches_duckdb_twin(spark):
    import duckdb
    import pandas as pd

    from nlp_to_nosql_spark.operators.dedup import (
        ngram_decontaminate,
        ngram_decontaminate_sql,
    )

    span = " ".join(f"s{i}" for i in range(15))
    rows = [
        (0, f"eval doc with {span} inside"),       # doc_id % 3 == 0 -> eval
        (1, f"train doc copying {span} verbatim"),
        (2, "clean train doc"),
        (3, "another eval"),
        (4, "another eval"),                        # short == doc 3? no: train
        (5, "clean train doc"),                     # exact dup of 2 (both keep/drop together)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ev = F.col("doc_id") % 3 == 0
    got = sorted(
        tuple(r)
        for r in ngram_decontaminate(
            df.filter(~ev), df.filter(ev), k=13
        ).collect()
    )
    con = duckdb.connect()
    con.register(
        "documents", pd.DataFrame(rows, columns=["doc_id", "text"])
    )
    want = sorted(
        tuple(r)
        for r in con.execute(
            ngram_decontaminate_sql("doc_id % 3 = 0", k=13)
        ).fetchall()
    )
    assert got == want
    # doc 4 ("another eval", actually train) whole-text-collides with
    # eval doc 3 -> dropped; the planted span drops doc 1
    by_id = dict((r[0], r[2]) for r in got)
    assert by_id[1] is False and by_id[4] is False and by_id[2] is True


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    HAVE_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    HAVE_HYPOTHESIS = False


def _py_decontaminate(train_rows, eval_rows, k):
    import re

    def grams(t):
        ws = re.sub(r"\s+", " ", t.strip().lower()).split(" ")
        if len(ws) >= k:
            return {" ".join(ws[i : i + k]) for i in range(len(ws) - k + 1)}
        return {" ".join(ws)}

    eg = set()
    for _, t in eval_rows:
        eg |= grams(t)
    return {
        i: (len(grams(t) & eg), not (grams(t) & eg)) for i, t in train_rows
    }


@pytest.mark.skipif(not HAVE_HYPOTHESIS, reason="hypothesis not installed")
@settings(max_examples=60, deadline=None)
@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=20),
        min_size=1,
        max_size=10,
    ),
    k=st.integers(min_value=1, max_value=4),
)
def test_ngram_decontaminate_sql_matches_python(texts, k):
    """The dc2 twin equals a pure-Python gram-set model on arbitrary
    tiny corpora — short-doc whole-text fallback, empty eval split, and
    gram-boundary cases included (DuckDB-only per example; the Spark
    side is pinned by the fixed-fixture twin-match test)."""
    import duckdb
    import pandas as pd

    from nlp_to_nosql_spark.operators.dedup import ngram_decontaminate_sql

    rows = [(i, t) for i, t in enumerate(texts)]
    train = [(i, t) for i, t in rows if i % 3 != 0]
    ev = [(i, t) for i, t in rows if i % 3 == 0]
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    got = {
        r[0]: (r[1], r[2])
        for r in con.execute(
            ngram_decontaminate_sql("doc_id % 3 = 0", k=k)
        ).fetchall()
    }
    assert got == _py_decontaminate(train, ev, k)


def test_paragraph_dedup_first_occurrence_and_rebuild(spark):
    """dedup19 semantics: corpus-wide first (id, pos) occurrence per
    normalized paragraph survives; docs rebuild in original order;
    blank paragraphs always survive; a fully-duplicate doc reads ''."""
    from nlp_to_nosql_spark.operators.dedup import paragraph_dedup

    docs = spark.createDataFrame(
        [
            (1, "alpha beta\ngamma delta"),
            (2, "gamma delta\nepsilon"),          # para 1 dups doc1 pos2
            (3, "Alpha  Beta\n\nzeta"),           # para 1 dups doc1 pos1 (normalized); blank kept
            (4, "alpha beta\ngamma delta"),       # fully duplicate doc
            (5, None),                            # NULL text stays NULL
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in paragraph_dedup(docs).collect()}
    assert got[1]["clean_text"] == "alpha beta\ngamma delta"
    assert (got[1]["n_paragraphs"], got[1]["n_removed"]) == (2, 0)
    assert got[2]["clean_text"] == "epsilon"
    assert (got[2]["n_paragraphs"], got[2]["n_removed"]) == (2, 1)
    assert got[3]["clean_text"] == "\nzeta"       # blank line preserved
    assert (got[3]["n_paragraphs"], got[3]["n_removed"]) == (3, 1)
    assert got[4]["clean_text"] == ""
    assert (got[4]["n_paragraphs"], got[4]["n_removed"]) == (2, 2)
    assert got[5]["clean_text"] is None
    assert got[5]["n_paragraphs"] is None and got[5]["n_removed"] is None


def test_paragraph_dedup_regex_metachar_sep(spark):
    """A separator that is a regex metacharacter ('.', '|') must split
    on the LITERAL character — r12 advice: the unescaped sep reached
    F.split as a Java regex ('.' split between every character) while
    the rejoin used it literally."""
    from nlp_to_nosql_spark.operators.dedup import paragraph_dedup

    docs = spark.createDataFrame(
        [(1, "alpha beta.gamma delta"), (2, "gamma delta.epsilon")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r for r in paragraph_dedup(docs, sep=".").collect()
    }
    assert got[1]["clean_text"] == "alpha beta.gamma delta"
    assert (got[1]["n_paragraphs"], got[1]["n_removed"]) == (2, 0)
    assert got[2]["clean_text"] == "epsilon"
    assert (got[2]["n_paragraphs"], got[2]["n_removed"]) == (2, 1)


def test_paragraph_dedup_matches_duckdb_twin(spark):
    """Engine vs oracle on a handcrafted multi-line corpus."""
    import duckdb

    from nlp_to_nosql_spark.operators.dedup import (
        paragraph_dedup,
        paragraph_dedup_sql,
    )

    rows = [
        (1, "a b\nc d\na b"),
        (2, "c d\ne f\n\nc d"),
        (3, "x\ny\nx"),
        (4, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(tuple(r) for r in paragraph_dedup(docs).collect())
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t (doc_id BIGINT, text VARCHAR)"
    )
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = sorted(
        tuple(r) for r in con.execute(paragraph_dedup_sql(table="t")).fetchall()
    )
    assert got == want


def test_paragraph_neardup_drops_fuzzy_and_exact_tiers(spark):
    """dedup20: exact repeats drop via the census, NEAR-identical
    paragraphs (est. Jaccard >= 0.5) drop via the LSH tier with
    first-(id, pos) occurrence winning, distinct paragraphs survive,
    NULL text stays NULL."""
    from nlp_to_nosql_spark.operators.dedup import paragraph_neardup

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog\n"
                "some unique paragraph one"),
            # para 1 near-dups doc1 para1 (one word differs)
            (2, "the quick brown fox jumps over the lazy dogs\n"
                "some unique paragraph two"),
            # para 1 exactly dups doc1 para1
            (3, "the quick brown fox jumps over the lazy dog\n"
                "completely different text here"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in paragraph_neardup(docs).collect()}
    assert got[1]["clean_text"] == (
        "the quick brown fox jumps over the lazy dog\n"
        "some unique paragraph one"
    )
    assert (got[1]["n_paragraphs"], got[1]["n_removed"]) == (2, 0)
    assert got[2]["clean_text"] == "some unique paragraph two"
    assert (got[2]["n_paragraphs"], got[2]["n_removed"]) == (2, 1)
    assert got[3]["clean_text"] == "completely different text here"
    assert (got[3]["n_paragraphs"], got[3]["n_removed"]) == (2, 1)
    assert got[4]["clean_text"] is None


def test_paragraph_neardup_matches_duckdb_twin(spark):
    import duckdb

    from nlp_to_nosql_spark.operators.dedup import (
        paragraph_neardup,
        paragraph_neardup_sql,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta\nfirst unique line"),
            (2, "alpha beta gamma delta epsilon zetas\nsecond unique"),
            (3, "alpha beta gamma delta epsilon zeta\nthird"),
            (4, "totally unrelated words in this one\n\nblank kept"),
            (5, None),
        ],
        "doc_id long, text string",
    )
    got = sorted(tuple(r) for r in paragraph_neardup(docs).collect())
    con = duckdb.connect()
    con.register("t", docs.toPandas())
    want = sorted(
        tuple(r)
        for r in con.execute(paragraph_neardup_sql(table="t")).fetchall()
    )
    assert got == want


def test_shingle_table_single_shingle_evaluation(spark):
    """The shingle expression must appear ONCE in shingle_table's
    physical plan.  Exploding a staged ``_sh`` attribute lets
    InferFiltersFromGenerate push a ``size(_sh) > 0`` filter below the
    fan-out exchange, re-evaluating the whole tokenize+shingle chain on
    the pre-fan-out (single-split) scan — measured 12x at sf0.1 (r15).
    The prebuilt shingle_arrays path is exempt because its callers
    persist the frame (the cache boundary stops the pushdown) — pinned
    here too via an explicit persist."""
    from nlp_to_nosql_spark.operators.dedup import shingle_arrays, shingle_table
    from nlp_to_nosql_spark.plans.caching import persisted

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "f g h i j"), (3, "")],
        "doc_id long, text string",
    )
    plan = (
        shingle_table(df, "doc_id", "text", 3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("array_distinct") == 1

    sh = persisted(shingle_arrays(df, "doc_id", "text", 3), "tokens")
    pre = shingle_table(df, "doc_id", "text", 3, shingle_arrays=sh)
    plan2 = pre._jdf.queryExecution().executedPlan().toString()
    assert plan2.count("array_distinct") == 1

    a = sorted(map(tuple, shingle_table(df, "doc_id", "text", 3).collect()))
    b = sorted(map(tuple, pre.collect()))
    assert a == b
    sh.unpersist()
