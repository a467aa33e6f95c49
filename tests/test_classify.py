"""Hashed-linear quality classifier vs a pure-python md5 model."""

import hashlib
import re

import pytest
from pyspark.sql import types as T

from nlp_to_nosql_spark.operators import classify
from nlp_to_nosql_spark.operators.classify import hashed_linear_score

N_BUCKETS = 64
SCALE = 100


def _h15(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _model_score(text: str):
    norm = re.sub(r"\s+", " ", text.strip().lower())
    toks = [t for t in norm.split(" ") if t != ""]
    if not toks:
        return None
    s = 0
    for t in toks:
        bucket = _h15(t) % N_BUCKETS
        s += _h15(f"qw:{bucket}") % (2 * SCALE + 1) - SCALE
    return len(toks), s, round(s / len(toks), 6), s > 0


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "The quick brown fox jumps over the lazy dog"),
        (1, "  Multiple   SPACES\tand\nnewlines  "),
        (2, ""),  # zero tokens → filtered
        (3, "   \t  "),  # whitespace only → filtered
        (4, "one"),
        (5, "repeat repeat repeat repeat"),
        (6, "Ünïcode tökens and punctuation, too!"),
    ]
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    return rows, spark.createDataFrame(rows, schema)


def test_matches_pure_python_model(docs):
    rows, df = docs
    got = {
        r["doc_id"]: (r["n_tokens"], r["score_sum"], r["score"], r["keep"])
        for r in hashed_linear_score(df, n_buckets=N_BUCKETS, scale=SCALE).collect()
    }
    want = {i: _model_score(t) for i, t in rows if _model_score(t) is not None}
    assert got == want


def test_zero_token_docs_filtered(docs):
    _, df = docs
    ids = {
        r["doc_id"]
        for r in hashed_linear_score(df, n_buckets=N_BUCKETS, scale=SCALE).collect()
    }
    assert 2 not in ids and 3 not in ids


def test_keep_is_sign_of_exact_sum(docs):
    _, df = docs
    for r in hashed_linear_score(df, n_buckets=N_BUCKETS, scale=SCALE).collect():
        assert r["keep"] == (r["score_sum"] > 0)
        assert abs(r["score_sum"]) <= SCALE * r["n_tokens"]


def test_repeated_token_scales_linearly(docs):
    rows, df = docs
    got = {
        r["doc_id"]: r
        for r in hashed_linear_score(df, n_buckets=N_BUCKETS, scale=SCALE).collect()
    }
    one = got[4]["score_sum"]  # weight of the single token "one"
    # doc 5 is one token repeated 4x of a different word; check doc 4's
    # own linearity via the model instead: score of "one one one" = 3*w
    import pyspark.sql.functions as F

    df3 = df.filter(F.col("doc_id") == 4).withColumn(
        "text", F.lit("one one one")
    )
    tripled = hashed_linear_score(df3, n_buckets=N_BUCKETS, scale=SCALE).collect()[0]
    assert tripled["score_sum"] == 3 * one
    assert tripled["score"] == got[4]["score"]


def test_real_weights_table_scores_and_plan(docs, spark):
    """The trained-coefficient path: a non-trivial (bucket, weight) table
    must reproduce a pure-python scorer exactly AND leave the plan the
    same zero-shuffle projection as the pseudo-weight contract config."""
    rows, df = docs
    # non-trivial: every bucket weighted, sign alternating, magnitude
    # varying, a few buckets deliberately missing (weigh 0)
    wrows = [
        (b, (b % 7 - 3) * (b + 1)) for b in range(N_BUCKETS) if b % 5 != 0
    ]
    wdf = spark.createDataFrame(wrows, "bucket int, weight long")
    wmap = dict(wrows)

    def py_score(text):
        norm = re.sub(r"\s+", " ", text.strip().lower())
        toks = [t for t in norm.split(" ") if t != ""]
        if not toks:
            return None
        s = sum(wmap.get(_h15(t) % N_BUCKETS, 0) for t in toks)
        return len(toks), s, round(s / len(toks), 6), s > 0

    scored = hashed_linear_score(
        df, n_buckets=N_BUCKETS, scale=SCALE, weights=wdf
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["score_sum"], r["score"], r["keep"])
        for r in scored.collect()
    }
    want = {i: py_score(t) for i, t in rows if py_score(t) is not None}
    assert got == want

    # the weight table must NOT add an exchange: same scan-project shape
    plan = scored._sc._jvm.PythonSQLUtils.explainString(
        scored._jdf.queryExecution(), "simple"
    )
    assert "Exchange" not in plan, plan


def test_real_weights_bucket_out_of_range_raises(docs, spark):
    _, df = docs
    bad = spark.createDataFrame([(N_BUCKETS, 5)], "bucket int, weight long")
    with pytest.raises(ValueError, match="outside"):
        hashed_linear_score(df, n_buckets=N_BUCKETS, weights=bad)


def test_broadcast_join_weights_tier(docs, spark):
    """Past _WEIGHTS_COLLECT_MAX buckets the weights table broadcast-joins
    instead of collecting: values equal the baked kernel exactly, the
    join is a BroadcastHashJoin with no exchange on the corpus side
    (exactly one Exchange total — the per-document partial-agg groupBy),
    and the validation errors match the baked path's."""
    rows, df = docs
    big = 1 << 17  # past the 2^16 threshold
    wrows = [(b, (b % 11 - 5) * 3) for b in range(0, big, 97)]
    wdf = spark.createDataFrame(wrows, "bucket long, weight long")

    joined = hashed_linear_score(df, n_buckets=big, weights=wdf)
    # plan shape, read BEFORE execution (the post-collect AQE final plan
    # prints materialized stages and double-counts the exchange)
    plan = joined._sc._jvm.PythonSQLUtils.explainString(
        joined._jdf.queryExecution(), "simple"
    )
    assert "BroadcastHashJoin" in plan, plan
    # exactly one shuffle (the per-doc groupBy); the weights move as a
    # BroadcastExchange, which is not a shuffle of the corpus side
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BatchEvalPython" not in plan, plan
    # baked twin: raise the threshold so the same call collects (only
    # for this block — the validation checks below run the broadcast tier)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(classify, "_WEIGHTS_COLLECT_MAX", big)
        baked = hashed_linear_score(df, n_buckets=big, weights=wdf)
        key = lambda r: (  # noqa: E731
            r["doc_id"], r["n_tokens"], r["score_sum"], r["score"], r["keep"]
        )
        assert sorted(map(key, joined.collect())) == sorted(
            map(key, baked.collect())
        )

    dup = spark.createDataFrame(
        [(5, 1), (5, 2)], "bucket long, weight long"
    )
    with pytest.raises(ValueError, match="duplicate weight rows"):
        hashed_linear_score(df, n_buckets=big, weights=dup)
    oob = spark.createDataFrame([(big, 1)], "bucket long, weight long")
    with pytest.raises(ValueError, match="outside"):
        hashed_linear_score(df, n_buckets=big, weights=oob)


def test_real_weights_duplicate_bucket_raises(docs, spark):
    """Duplicate bucket rows would be last-write-wins in collect order —
    nondeterministic scores — so the bounded collect refuses them."""
    _, df = docs
    dup = spark.createDataFrame(
        [(3, 5), (3, -5), (7, 1)], "bucket int, weight long"
    )
    with pytest.raises(ValueError, match="duplicate weight rows"):
        hashed_linear_score(df, n_buckets=N_BUCKETS, weights=dup)


# ---------------------------------------------------------------------------
# trained NB char-n-gram language identifier
# ---------------------------------------------------------------------------

import math

from nlp_to_nosql_spark.operators.classify import nb_charngram_langid

N = 3
SEED = 11


def _nb_split_is_train(doc_id: int) -> bool:
    return int(hashlib.md5(f"nb{SEED}:{doc_id}".encode()).hexdigest()[:7], 16) % 2 == 0


def _nb_grams(text: str) -> list:
    # Spark/DuckDB `trim` strips SPACES only (not tabs/newlines); the
    # collapse happens after lower(trim(..)) — mirror that exactly.
    norm = re.sub(r"\s+", " ", (text or "").strip(" ").lower())
    if not norm:
        return []
    return [norm[p - 1 : p - 1 + N] for p in range(1, max(len(norm) - (N - 1), 1) + 1)]


def _nb_model(rows):
    """Pure-python twin of nb_charngram_langid: same seeded split,
    add-one NB, per-gram integer-micro floors, (score DESC, label ASC)
    argmax."""
    train = [(i, lab, txt) for i, txt, lab in rows if _nb_split_is_train(i)]
    score = [(i, lab, txt) for i, txt, lab in rows if not _nb_split_is_train(i)]
    counts: dict = {}
    gram_tot: dict = {}
    doc_cnt: dict = {}
    vocab = set()
    for _, lab, txt in train:
        doc_cnt[lab] = doc_cnt.get(lab, 0) + 1
        for g in _nb_grams(txt):
            counts[(lab, g)] = counts.get((lab, g), 0) + 1
            gram_tot[lab] = gram_tot.get(lab, 0) + 1
            vocab.add(g)
    if not train:
        return {}
    v, d = len(vocab), len(train)
    out = {}
    for i, true_lab, txt in score:
        grams = _nb_grams(txt)
        best = None
        for lab in sorted(doc_cnt):
            den = gram_tot.get(lab, 0) + v
            miss = math.floor(-math.log(den) * 1_000_000)
            prior = math.floor(
                (math.log(doc_cnt[lab]) - math.log(d)) * 1_000_000
            )
            s = prior
            for g in grams:
                c = counts.get((lab, g), 0)
                if c:
                    s += math.floor(
                        (math.log(c + 1) - math.log(den)) * 1_000_000
                    )
                else:
                    s += miss
            if best is None or s > best[1]:
                best = (lab, s)
        out[i] = (true_lab, best[0], len(grams), best[1])
    return out


@pytest.fixture(scope="module")
def lang_rows():
    return [
        (0, "the cat sat on the mat and the dog slept", "en"),
        (1, "le chat est sur le tapis et le chien dort", "fr"),
        (2, "the weather is nice and the sun shines today", "en"),
        (3, "il fait beau et le soleil brille aujourd'hui", "fr"),
        (4, "der hund schläft auf dem teppich im zimmer", "de"),
        (5, "the quick brown fox jumps over the lazy dog", "en"),
        (6, "le renard brun saute par dessus le chien", "fr"),
        (7, "die katze sitzt auf der matte und schläft", "de"),
        (8, "", "en"),  # contentless: priors-only prediction
        (9, "   \t ", "fr"),  # whitespace-only: priors-only too
        (10, "a", "de"),  # shorter than n: one short gram
        (11, "the sun and the moon and the stars above", "en"),
        (12, "le soleil et la lune et les étoiles", "fr"),
    ]


def test_nb_langid_matches_pure_python(spark, lang_rows):
    df = spark.createDataFrame(
        lang_rows, "doc_id long, text string, lang string"
    )
    got = {
        r["doc_id"]: (
            r["lang"], r["pred_lang"], r["n_grams"], r["score_micro"]
        )
        for r in nb_charngram_langid(df, n=N, seed=SEED).collect()
    }
    want = _nb_model(lang_rows)
    assert want, "fixture must place at least one row in the training half"
    assert got == want


def test_nb_langid_scores_exactly_the_held_out_half(spark, lang_rows):
    df = spark.createDataFrame(
        lang_rows, "doc_id long, text string, lang string"
    )
    got_ids = {
        r["doc_id"] for r in nb_charngram_langid(df, n=N, seed=SEED).collect()
    }
    assert got_ids == {
        i for i, _, _ in lang_rows if not _nb_split_is_train(i)
    }


def test_nb_langid_empty_training_half_yields_empty(spark):
    held_out = next(i for i in range(100) if not _nb_split_is_train(i))
    df = spark.createDataFrame(
        [(held_out, "some text", "en")], "doc_id long, text string, lang string"
    )
    assert nb_charngram_langid(df, n=N, seed=SEED).count() == 0


def test_nb_langid_contentless_doc_predicted_from_priors(spark, lang_rows):
    df = spark.createDataFrame(
        lang_rows, "doc_id long, text string, lang string"
    )
    rows = {
        r["doc_id"]: r for r in nb_charngram_langid(df, n=N, seed=SEED).collect()
    }
    want = _nb_model(lang_rows)
    saw_contentless = False
    for i, txt, _ in lang_rows:
        if i in rows and not _nb_grams(txt):
            saw_contentless = True
            assert rows[i]["n_grams"] == 0
            assert rows[i]["pred_lang"] == want[i][1]
    assert saw_contentless, "fixture must hold out at least one empty doc"
