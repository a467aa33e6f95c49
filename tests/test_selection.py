"""DSIR importance selection + BPE merge-pair counting vs pure-python
models and the DuckDB oracle twins, on edge-heavy synthetic docs."""

import hashlib
import math
import re
from collections import Counter

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nlp_to_nosql_spark.operators.selection import (
    bpe_merge_pairs,
    bpe_merge_pairs_sql,
    dsir_select,
    dsir_select_by,
    dsir_select_by_sql,
    dsir_select_sql,
)

N_BUCKETS = 64
MICRO = 1_000_000

ROWS = [
    (0, "the quick brown fox jumps over the lazy dog", "en"),
    (1, "  Multiple   SPACES\tand\nnewlines here  ", "en"),
    (2, "", "de"),  # zero tokens → zero features → never scored
    (3, "   \t  ", "de"),  # whitespace only → same
    (4, "one", "de"),  # single token → no bigrams, no char pairs
    (5, "repeat repeat repeat repeat", "de"),
    (6, "Ünïcode tökens and punctuation, too!", "fr"),
    (7, "a b c d e", "fr"),  # single-char words → no BPE pairs
    (8, "the quick brown fox again and again", "es"),
    (9, "zzz yyy xxx the of and", "es"),
    # astral-plane codepoints: Spark split('') and DuckDB string_split
    # must both cut per CODEPOINT, never between surrogate halves
    (10, "\U0001d11e\U0001d11ea \U0001f600\U0001f600 \U0001d11ea", "it"),
]


def _h15(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _toks(text: str):
    norm = re.sub(r"\s+", " ", text.strip().lower())
    return [t for t in norm.split(" ") if t != ""]


def _feats(text: str):
    ts = _toks(text)
    return ts + [f"{a} {b}" for a, b in zip(ts, ts[1:])]


def _py_dsir(rows, k):
    tc, pc = Counter(), Counter()
    for _, text, lang in rows:
        cnt = tc if lang == "en" else pc
        for f in _feats(text):
            cnt[_h15(f) % N_BUCKETS] += 1
    tt, tp = sum(tc.values()), sum(pc.values())
    lr = {
        b: math.floor(
            (
                math.log(tc[b] + 1)
                - math.log(tt + N_BUCKETS)
                - math.log(pc[b] + 1)
                + math.log(tp + N_BUCKETS)
            )
            * MICRO
        )
        for b in set(tc) | set(pc)
    }
    scored = []
    for i, text, lang in rows:
        if lang == "en":
            continue
        fs = _feats(text)
        if fs:
            scored.append(
                (i, len(fs), sum(lr[_h15(f) % N_BUCKETS] for f in fs))
            )
    scored.sort(key=lambda r: (-r[2], r[0]))
    return scored[:k]


def _py_bpe(rows, top_n):
    words = Counter(t for _, text, _ in rows for t in _toks(text))
    pairs = Counter()
    for w, c in words.items():
        for i in range(len(w) - 1):
            pairs[w[i : i + 2]] += c
    return sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[:top_n]


@pytest.fixture(scope="module")
def docs(spark):
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
        ]
    )
    return spark.createDataFrame(ROWS, schema)


def test_dsir_matches_pure_python_model(docs):
    got = [
        (r["doc_id"], r["n_feats"], r["weight_micro"])
        for r in dsir_select(
            docs, F.col("lang") == "en", n_buckets=N_BUCKETS, k=5
        ).collect()
    ]
    assert got == _py_dsir(ROWS, 5)


def test_dsir_matches_duckdb_twin(docs):
    con = duckdb.connect()
    con.register(
        "documents", pd.DataFrame(ROWS, columns=["doc_id", "text", "lang"])
    )
    want = con.execute(
        dsir_select_sql(n_buckets=N_BUCKETS, k=5)
    ).fetchall()
    got = [
        tuple(r)
        for r in dsir_select(
            docs, F.col("lang") == "en", n_buckets=N_BUCKETS, k=5
        ).collect()
    ]
    assert got == [tuple(r) for r in want]


def test_dsir_all_target_pool_empty(docs):
    assert (
        dsir_select(docs, F.lit(True), n_buckets=N_BUCKETS, k=5).count()
        == 0
    )


def test_dsir_k_exceeds_pool(docs):
    # 9 non-en rows, 2 of them zero-feature → 7 scored pool docs
    got = dsir_select(
        docs, F.col("lang") == "en", n_buckets=N_BUCKETS, k=100
    ).collect()
    assert len(got) == 7


def test_dsir_plan_broadcasts_ratios(docs):
    q = dsir_select(docs, F.col("lang") == "en", n_buckets=N_BUCKETS, k=5)
    plan = q._sc._jvm.PythonSQLUtils.explainString(
        q._jdf.queryExecution(), "simple"
    )
    # the ≤ n_buckets log-ratio table joins by broadcast; nothing falls
    # back to a corpus-side shuffle join, a cartesian pairing, or Python
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_dsir_per_group_matches_duckdb_twin(docs):
    # lang doubles as the group column: per-group quotas + rank order
    # must match the twin exactly, including the rnk column type
    con = duckdb.connect()
    con.register(
        "documents", pd.DataFrame(ROWS, columns=["doc_id", "text", "lang"])
    )
    want = sorted(
        tuple(r)
        for r in con.execute(
            dsir_select_by_sql(
                group_col="lang", n_buckets=N_BUCKETS, k_per_group=2
            )
        ).fetchall()
    )
    got = sorted(
        tuple(r)
        for r in dsir_select_by(
            docs,
            F.col("lang") == "en",
            "lang",
            n_buckets=N_BUCKETS,
            k_per_group=2,
        ).collect()
    )
    assert got == want
    # quota respected per group, and only pool groups appear
    langs = [r[1] for r in got]
    assert all(langs.count(g) <= 2 for g in set(langs))
    assert "en" not in langs


def test_dsir_per_group_plan_uses_window_group_limit(docs):
    q = dsir_select_by(
        docs, F.col("lang") == "en", "lang",
        n_buckets=N_BUCKETS, k_per_group=2,
    )
    plan = q._sc._jvm.PythonSQLUtils.explainString(
        q._jdf.queryExecution(), "simple"
    )
    # the rank filter must push per-partition (no full-group sort funnel)
    assert "WindowGroupLimit" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_bpe_matches_pure_python_model(docs):
    got = [
        (r["pair"], r["pair_count"])
        for r in bpe_merge_pairs(docs, top_n=10).collect()
    ]
    assert got == _py_bpe(ROWS, 10)


def test_bpe_matches_duckdb_twin(docs):
    con = duckdb.connect()
    con.register(
        "documents", pd.DataFrame(ROWS, columns=["doc_id", "text", "lang"])
    )
    want = con.execute(bpe_merge_pairs_sql(top_n=10)).fetchall()
    got = [tuple(r) for r in bpe_merge_pairs(docs, top_n=10).collect()]
    assert got == [tuple(r) for r in want]


def test_bpe_single_char_words_yield_no_pairs(spark):
    df = spark.createDataFrame(
        [(0, "a b c d", "en")], "doc_id long, text string, lang string"
    )
    assert bpe_merge_pairs(df).count() == 0


def test_bpe_plan_two_shuffles_takeordered(docs):
    q = bpe_merge_pairs(docs, top_n=10)
    plan = q._sc._jvm.PythonSQLUtils.explainString(
        q._jdf.queryExecution(), "simple"
    )
    # one corpus-token shuffle (word counts) + one vocab-sized shuffle
    # (pair counts); top-n is TakeOrdered, never a global sort
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "BatchEvalPython" not in plan, plan


# ---------------------------------------------------------------------------
# BPE trainer loop + encoder (round 10)
# ---------------------------------------------------------------------------

def _py_bpe_train(rows, n):
    """Reference BPE model: greedy leftmost-non-overlapping merges."""
    words = Counter(t for _, text, _ in rows for t in _toks(text))
    vocab = {w: list(w) for w in words}
    merges = []
    for rank in range(1, n + 1):
        pairs = Counter()
        for w, c in words.items():
            ss = vocab[w]
            for i in range(len(ss) - 1):
                pairs[(ss[i], ss[i + 1])] += c
        if not pairs:
            break
        (l, r), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, l, r, cnt))
        for w in vocab:
            ss, out, i = vocab[w], [], 0
            while i < len(ss):
                if i + 1 < len(ss) and ss[i] == l and ss[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(ss[i])
                    i += 1
            vocab[w] = out
    return merges, vocab


@pytest.mark.parametrize("n", [1, 3, 5])
def test_bpe_train_matches_pure_python_at_several_n(docs, n):
    from nlp_to_nosql_spark.operators.selection import bpe_train

    got = bpe_train(docs, n_merges=n)
    want, _ = _py_bpe_train(ROWS, n)
    assert got == want


def test_bpe_train_matches_duckdb_twin(docs):
    from nlp_to_nosql_spark.operators.selection import (
        bpe_train,
        bpe_train_sql,
    )

    con = duckdb.connect()
    con.register(
        "documents", pd.DataFrame(ROWS, columns=["doc_id", "text", "lang"])
    )
    want = con.execute(bpe_train_sql(n_merges=4)).fetchall()
    assert [tuple(m) for m in bpe_train(docs, n_merges=4)] == [
        tuple(r) for r in want
    ]


def test_bpe_train_overlap_semantics(spark):
    """'aaaa' under merge (a,a) must yield 2 tokens (leftmost greedy),
    and the trainer must count the 3 overlapping candidates as 3."""
    from nlp_to_nosql_spark.operators.selection import (
        bpe_encode_len,
        bpe_train,
    )

    df = spark.createDataFrame(
        [(0, "aaaa", "en")], "doc_id long, text string, lang string"
    )
    merges = bpe_train(df, n_merges=1)
    assert merges == [(1, "a", "a", 3)]
    enc = bpe_encode_len(df, merges).collect()
    assert [(r["doc_id"], r["n_tokens"]) for r in enc] == [(0, 2)]


def test_bpe_train_stops_when_pairs_exhausted(spark):
    from nlp_to_nosql_spark.operators.selection import bpe_train

    df = spark.createDataFrame(
        [(0, "a b c", "en")], "doc_id long, text string, lang string"
    )
    assert bpe_train(df, n_merges=5) == []


def test_bpe_encode_len_matches_python_and_twin(docs):
    from nlp_to_nosql_spark.operators.selection import (
        bpe_encode_len,
        bpe_encode_len_sql,
        bpe_train,
    )

    merges = bpe_train(docs, n_merges=4)
    got = sorted(
        (r["doc_id"], r["n_tokens"])
        for r in bpe_encode_len(docs, merges).collect()
    )
    _, py_vocab = _py_bpe_train(ROWS, 4)
    want = sorted(
        (i, sum(len(py_vocab[w]) for w in _toks(text)))
        for i, text, _ in ROWS
    )
    assert got == want
    # zero-token docs (ids 2, 3) keep explicit 0 rows
    as_map = dict(got)
    assert as_map[2] == 0 and as_map[3] == 0
    con = duckdb.connect()
    con.register(
        "documents", pd.DataFrame(ROWS, columns=["doc_id", "text", "lang"])
    )
    dwant = con.execute(bpe_encode_len_sql(n_merges=4)).fetchall()
    assert got == sorted(tuple(r) for r in dwant)


def test_bpe_encode_without_vocab_rederives(docs):
    """The encoder re-derives the vocabulary from ``df`` and needs only
    the merge ORDER: ranked ``(rank, lhs, rhs, count)`` tuples and bare
    ``(lhs, rhs)`` pairs encode identically."""
    from nlp_to_nosql_spark.operators.selection import (
        bpe_encode_len,
        bpe_train,
    )

    merges = bpe_train(docs, n_merges=3)
    bare = [(m[1], m[2]) for m in merges]
    a = sorted(map(tuple, bpe_encode_len(docs, merges).collect()))
    b = sorted(map(tuple, bpe_encode_len(docs, bare).collect()))
    assert a == b


# ---------------------------------------------------------------------------
# Gumbel resampling tier (round 10)
# ---------------------------------------------------------------------------

def test_dsir_gumbel_matches_duckdb_twin(docs):
    from nlp_to_nosql_spark.operators.selection import (
        dsir_select_gumbel,
        dsir_select_gumbel_sql,
    )

    got = [
        tuple(r)
        for r in dsir_select_gumbel(
            docs, F.col("lang") == "en", n_buckets=N_BUCKETS, k=5, seed=7
        ).collect()
    ]
    con = duckdb.connect()
    con.register(
        "documents", pd.DataFrame(ROWS, columns=["doc_id", "text", "lang"])
    )
    want = con.execute(
        dsir_select_gumbel_sql(n_buckets=N_BUCKETS, k=5, seed=7)
    ).fetchall()
    assert got == [tuple(r) for r in want]


def test_dsir_gumbel_key_is_weight_plus_hash_noise(docs):
    """key_micro − weight_micro equals the closed-form hash-Gumbel draw."""
    import hashlib

    from nlp_to_nosql_spark.operators.selection import dsir_select_gumbel

    rows = dsir_select_gumbel(
        docs, F.col("lang") == "en", n_buckets=N_BUCKETS, k=5, seed=7
    ).collect()
    for r in rows:
        h = int(hashlib.md5(f"gum7:{r['doc_id']}".encode()).hexdigest()[:7], 16)
        u = (h % 1_000_000 + 1) / 1_000_001.0
        g = math.floor(-math.log(-math.log(u)) * 1_000_000.0)
        assert r["key_micro"] - r["weight_micro"] == g


def test_dsir_null_target_scored_as_pool(spark):
    """A NULL target predicate now coalesces to pool: the doc shapes the
    pool distribution AND stays selectable (round-9 advice)."""
    from nlp_to_nosql_spark.operators.selection import dsir_select

    rows = ROWS + [(99, "the quick brown fox of the pool", None)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    )
    got = {
        r["doc_id"]
        for r in dsir_select(
            df, F.col("lang") == "en", n_buckets=N_BUCKETS, k=20
        ).collect()
    }
    assert 99 in got


def test_lr_micro_ln_agreement_spark_duckdb_python(spark):
    """Pin the family's ONE float trust point (round-9 advice): Java
    Math.log (Spark), DuckDB ln, and CPython math.log must agree on
    lr_micro = floor(1e6 * (ln(tc+1) − ln(tt+B) − ln(pc+1) + ln(tp+B)))
    over realistic count tuples, including boundary-shaped ones.  A
    1-ulp divergence landing exactly on the micro grid would flip a
    value here before it could flake an oracle row."""
    import itertools

    B = 4096
    tcs = [0, 1, 2, 3, 7, 63, 999, 12345, 10**6]
    tts = [10**3, 10**5 + 17, 10**7 + 1, 10**9]
    tuples = [
        (tc, pc, tt, tp)
        for tc, pc in itertools.product(tcs, repeat=2)
        for tt, tp in zip(tts, reversed(tts))
        if tc <= tt and pc <= tp
    ]
    py = [
        math.floor(
            (
                math.log(tc + 1)
                - math.log(tt + B)
                - math.log(pc + 1)
                + math.log(tp + B)
            )
            * 1_000_000
        )
        for tc, pc, tt, tp in tuples
    ]
    df = spark.createDataFrame(
        tuples, "tc long, pc long, tt long, tp long"
    )
    got_spark = [
        r[0]
        for r in df.select(
            F.floor(
                (
                    F.log(F.col("tc") + 1)
                    - F.log(F.col("tt") + F.lit(B).cast("long"))
                    - F.log(F.col("pc") + 1)
                    + F.log(F.col("tp") + F.lit(B).cast("long"))
                )
                * F.lit(1_000_000.0)
            )
            .cast("long")
            .alias("v")
        ).collect()
    ]
    con = duckdb.connect()
    con.register(
        "t", pd.DataFrame(tuples, columns=["tc", "pc", "tt", "tp"])
    )
    got_duck = [
        r[0]
        for r in con.execute(
            "SELECT CAST(floor((ln(tc + 1) - ln(tt + 4096) - ln(pc + 1) "
            "+ ln(tp + 4096)) * 1000000) AS BIGINT) FROM t"
        ).fetchall()
    ]
    assert got_spark == py, "Spark ln diverges from CPython"
    assert got_duck == py, "DuckDB ln diverges from CPython"


def test_gumbel_micro_ln_agreement_full_sweep(spark):
    """Pin the NESTED ln composition (round-10 advice): the Gumbel draw
    is floor(−ln(−ln((h+1)/1000001)) · 1e6) over the 28-bit md5 bucket
    hash reduced mod 1e6 — a DIFFERENT float trust point than the
    single-ln lr_micro form (two chained libm calls can land a 1-ulp
    divergence on a micro boundary that one call cannot).  The hash
    bucket domain is exactly [0, 1e6), so sweep ALL 1,000,000 values
    across Spark (Java Math.log), DuckDB, and CPython — exhaustive, no
    sampling argument needed."""
    import numpy as np

    B = 1_000_000
    denom = float(B + 1)  # the _GUMBEL_SQL / _gumbel_micro literal
    py = np.array(
        [
            math.floor(-math.log(-math.log((h + 1) / denom)) * 1_000_000)
            for h in range(B)
        ],
        dtype=np.int64,
    )
    pdf = (
        spark.range(B)
        .select(
            F.col("id"),
            F.floor(
                -F.log(
                    -F.log((F.col("id") + 1).cast("double") / F.lit(denom))
                )
                * F.lit(1_000_000.0)
            )
            .cast("long")
            .alias("v"),
        )
        .toPandas()
    )
    got_spark = np.empty(B, dtype=np.int64)
    got_spark[pdf["id"].to_numpy()] = pdf["v"].to_numpy()
    got_duck = (
        duckdb.connect()
        .execute(
            "SELECT CAST(FLOOR(-ln(-ln(CAST(h + 1 AS DOUBLE) / "
            f"{denom!r})) * 1000000) AS BIGINT) AS v "
            f"FROM range({B}) t(h) ORDER BY h"
        )
        .fetchnumpy()["v"]
        .astype(np.int64)
    )
    assert np.array_equal(got_spark, py), (
        "Spark nested ln diverges from CPython at buckets "
        f"{np.nonzero(got_spark != py)[0][:5]}"
    )
    assert np.array_equal(got_duck, py), (
        "DuckDB nested ln diverges from CPython at buckets "
        f"{np.nonzero(got_duck != py)[0][:5]}"
    )


def test_bpe_encode_len_plan_jvm_only(docs):
    """The encoder must stay JVM-side: the merge chain is an aggregate
    HOF fold, never a Python UDF."""
    from nlp_to_nosql_spark.operators.selection import bpe_encode_len

    q = bpe_encode_len(docs, [(1, "t", "h", 0), (2, "th", "e", 0)])
    plan = q._sc._jvm.PythonSQLUtils.explainString(
        q._jdf.queryExecution(), "simple"
    )
    # (the AQE isFinalPlan=false string omits WholeStageCodegen spans,
    # so the pin is the absence of any Python evaluation node)
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan


# ---------------------------------------------------------------------------
# Property tests: the SQL twins' parity-closed-form greedy merge vs the
# reference scan (DuckDB only — no Spark session per example, so
# hypothesis can afford real case counts)
# ---------------------------------------------------------------------------

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    HAVE_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    HAVE_HYPOTHESIS = False


def _py_greedy_merge(ss, l, r):
    out, i = [], 0
    while i < len(ss):
        if i + 1 < len(ss) and ss[i] == l and ss[i + 1] == r:
            out.append(l + r)
            i += 2
        else:
            out.append(ss[i])
            i += 1
    return out


@pytest.mark.skipif(not HAVE_HYPOTHESIS, reason="hypothesis not installed")
@settings(max_examples=200, deadline=None)
@given(
    ss=st.lists(st.sampled_from(["a", "b", "ab", "ba", "aa"]), min_size=1, max_size=12),
    pair=st.sampled_from([("a", "a"), ("a", "b"), ("ab", "a"), ("b", "ba")]),
)
def test_sql_parity_merge_equals_greedy_scan(ss, pair):
    """The unrolled SQL's match-position parity closed form (runs of
    consecutive matches keep even offsets) must equal the canonical
    leftmost-non-overlapping greedy scan for ANY symbol sequence —
    including the overlap-run cases the closed form exists for."""
    import duckdb

    l, r = pair
    con = duckdb.connect()
    got = con.execute(
        """
        SELECT list_filter(list_transform(range(1, len(ss)+1),
                 i -> CASE WHEN list_contains(kept, i) THEN l || r
                           WHEN list_contains(kept, i - 1) THEN NULL
                           ELSE ss[i] END), x -> x IS NOT NULL)
        FROM (
          SELECT ss, l, r,
            [m[j] for j in range(1, len(m)+1)
              if len([jj for jj in range(1, j) if m[jj] - jj = m[j] - j]) % 2 = 0] AS kept
          FROM (
            SELECT $ss AS ss, $l AS l, $r AS r,
              [i for i in range(1, len($ss)) if $ss[i] = $l AND $ss[i+1] = $r] AS m
          ))
        """,
        {"ss": ss, "l": l, "r": r},
    ).fetchone()[0]
    assert got == _py_greedy_merge(ss, l, r), (ss, pair, got)


@pytest.mark.skipif(not HAVE_HYPOTHESIS, reason="hypothesis not installed")
@settings(max_examples=30, deadline=None)
@given(
    texts=st.lists(
        st.text(alphabet="abcd ", min_size=0, max_size=24),
        min_size=1,
        max_size=8,
    ),
    n=st.integers(min_value=1, max_value=4),
)
def test_bpe_train_sql_matches_python_on_random_corpora(texts, n):
    """The full unrolled bpe_train_sql twin equals the pure-Python
    trainer on arbitrary small corpora (merge choice ties included —
    both sides share the (count DESC, lhs, rhs) total order)."""
    import duckdb

    from nlp_to_nosql_spark.operators.selection import bpe_train_sql

    rows = [(i, t, "en") for i, t in enumerate(texts)]
    want, _ = _py_bpe_train(rows, n)
    con = duckdb.connect()
    con.register(
        "documents", pd.DataFrame(rows, columns=["doc_id", "text", "lang"])
    )
    got = [tuple(r) for r in con.execute(bpe_train_sql(n_merges=n)).fetchall()]
    # exhausted draws included: the twin's sentinel-pair arm makes both
    # sides return the same shortened merge list
    assert got == want, (texts, n, got, want)


def test_dsir_select_from_equals_predicate_form(docs):
    """The two-frame API (separate target corpus, the paper's setup)
    must reduce exactly to the single-frame predicate form."""
    from nlp_to_nosql_spark.operators.selection import dsir_select_from

    pool = docs.filter(F.col("lang") != "en")
    target = docs.filter(F.col("lang") == "en")
    got = sorted(
        tuple(r)
        for r in dsir_select_from(
            pool, target, n_buckets=N_BUCKETS, k=5
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in dsir_select(
            docs, F.col("lang") == "en", n_buckets=N_BUCKETS, k=5
        ).collect()
    )
    assert got == want


def test_dsir_select_from_tolerates_id_collision(spark):
    """Target ids may collide with pool ids — the flag separates them
    before anything keys on id, so pool scoring is unaffected."""
    from nlp_to_nosql_spark.operators.selection import dsir_select_from

    pool = spark.createDataFrame(
        [(0, "aa bb cc"), (1, "dd ee ff")], "doc_id long, text string"
    )
    target = spark.createDataFrame(
        [(0, "aa bb aa bb")], "doc_id long, text string"  # id 0 collides
    )
    got = dsir_select_from(pool, target, n_buckets=N_BUCKETS, k=2).collect()
    assert {r["doc_id"] for r in got} == {0, 1}
    # the target-like pool doc (shares aa/bb) must outrank the other
    assert got[0]["doc_id"] == 0 and got[0]["weight_micro"] > got[1]["weight_micro"]


def test_bpe_encode_applies_fitted_merges_to_unseen_corpus(spark, docs):
    """The real encoder use case: merges fitted on one corpus applied
    to DIFFERENT text — unseen words simply receive fewer merges; the
    result equals the pure-Python model given the same merge list."""
    from nlp_to_nosql_spark.operators.selection import (
        bpe_encode_len,
        bpe_train,
    )

    merges = bpe_train(docs, n_merges=4)
    new_rows = [(0, "the theatre was quiet"), (1, "zzzz unseen wordxyz")]
    new_df = spark.createDataFrame(new_rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["n_tokens"]
        for r in bpe_encode_len(new_df, merges).collect()
    }
    def py_encode(w):
        ss = list(w)
        for _, l, r, _c in merges:
            ss = _py_greedy_merge(ss, l, r)
        return len(ss)
    want = {
        i: sum(py_encode(w) for w in _toks(t)) for i, t in new_rows
    }
    assert got == want


def test_bpe_sql_twins_survive_pair_exhaustion(spark):
    """When the vocabulary exhausts its pairs before n_merges, the SQL
    twins must mirror the Spark trainer's early stop — a shortened
    merge list and TRUE token counts — not empty/zero everything
    (round-10 review finding)."""
    from nlp_to_nosql_spark.operators.selection import (
        bpe_encode_len,
        bpe_encode_len_sql,
        bpe_train,
        bpe_train_sql,
    )

    rows = [(0, "ab ab ab", "en"), (1, "ab cd", "en")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    merges = bpe_train(df, n_merges=4)
    # after (a,b) and (c,d) every word is a single symbol → early stop
    assert [(m[1], m[2]) for m in merges] == [("a", "b"), ("c", "d")]
    con = duckdb.connect()
    con.register(
        "documents", pd.DataFrame(rows, columns=["doc_id", "text", "lang"])
    )
    got_sql = [tuple(r) for r in con.execute(bpe_train_sql(n_merges=4)).fetchall()]
    assert got_sql == [tuple(m) for m in merges]
    want_counts = sorted(
        (r["doc_id"], r["n_tokens"])
        for r in bpe_encode_len(df, merges).collect()
    )
    assert want_counts == [(0, 3), (1, 2)]
    got_counts = sorted(
        tuple(r) for r in con.execute(bpe_encode_len_sql(n_merges=4)).fetchall()
    )
    assert got_counts == want_counts


def test_bpe_train_local_vocab_cap(docs, monkeypatch):
    from nlp_to_nosql_spark.operators import selection

    monkeypatch.setattr(selection, "_LOCAL_VOCAB_CAP", 3)
    with pytest.raises(ValueError, match="vocabulary exceeds 3"):
        selection.bpe_train(docs, n_merges=1)


def test_bpe_train_job_count_independent_of_merges(spark, docs):
    """One word-count job shape, then the merge loop on the driver:
    fitting 8 merges dispatches exactly as many Spark jobs as fitting
    1 (a per-merge Spark loop adds jobs with every merge)."""
    from nlp_to_nosql_spark.operators.selection import bpe_train

    sc = spark.sparkContext

    def jobs(n):
        group = f"bpe_train_jobs_{n}"
        sc.setJobGroup(group, group)
        try:
            merges = bpe_train(docs, n_merges=n)
        finally:
            sc.setJobGroup(None, None)
        assert len(merges) == n
        return len(sc.statusTracker().getJobIdsForGroup(group))

    one, eight = jobs(1), jobs(8)
    assert one >= 1
    assert eight == one


# ---------------------------------------------------------------------------
# tokenizer artifact contract (save/load round trip)
# ---------------------------------------------------------------------------


def test_bpe_save_load_roundtrip(spark, docs, tmp_path):
    """The artifact contract: a saved+reloaded merge table is
    list-identical, and encoding under it equals encoding under the
    in-memory list — including on OOV text the training corpus never
    saw (the char-split fallback needs nothing from the artifact)."""
    from nlp_to_nosql_spark.operators.selection import (
        bpe_encode_len,
        bpe_load,
        bpe_save,
        bpe_train,
    )

    merges = bpe_train(docs, n_merges=4)
    path = str(tmp_path / "merges.parquet")
    bpe_save(merges, path, spark)
    loaded = bpe_load(path, spark)
    assert loaded == merges
    unseen = spark.createDataFrame(
        [(900, "completely unseen wording zzz qqq")],
        "doc_id long, text string",
    )
    for frame in (docs, unseen):
        want = sorted(
            tuple(r) for r in bpe_encode_len(frame, merges).collect()
        )
        got = sorted(
            tuple(r) for r in bpe_encode_len(frame, loaded).collect()
        )
        assert got == want


def test_bpe_load_rejects_corrupt_artifacts(spark, tmp_path):
    from nlp_to_nosql_spark.operators.selection import (
        BPE_MERGES_SCHEMA,
        bpe_load,
    )

    gap = str(tmp_path / "gap.parquet")
    spark.createDataFrame(
        [(1, "t", "h", 5), (3, "th", "e", 4)], BPE_MERGES_SCHEMA
    ).write.parquet(gap)
    with pytest.raises(ValueError, match="rank sequence"):
        bpe_load(gap, spark)
    empty_sym = str(tmp_path / "sym.parquet")
    spark.createDataFrame(
        [(1, "t", "", 5)], BPE_MERGES_SCHEMA
    ).write.parquet(empty_sym)
    with pytest.raises(ValueError, match="empty or NULL symbol"):
        bpe_load(empty_sym, spark)


def _naive_merge_loop(words, n_merges):
    """The pre-round-11 full-recount loop — the reference semantics the
    incremental loop must reproduce exactly."""
    vocab = {w: list(w) for w in words}
    merges = []
    for rank in range(1, n_merges + 1):
        pairs = {}
        for w, c in words.items():
            ss = vocab[w]
            for i in range(len(ss) - 1):
                k = (ss[i], ss[i + 1])
                pairs[k] = pairs.get(k, 0) + c
        if not pairs:
            break
        (lhs, rhs), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, lhs, rhs, cnt))
        for w, ss in vocab.items():
            out, i = [], 0
            while i < len(ss):
                if i + 1 < len(ss) and ss[i] == lhs and ss[i + 1] == rhs:
                    out.append(lhs + rhs)
                    i += 2
                else:
                    out.append(ss[i])
                    i += 1
            vocab[w] = out
    return merges


@pytest.mark.skipif(not HAVE_HYPOTHESIS, reason="hypothesis not installed")
@settings(max_examples=120, deadline=None)
@given(
    words=st.dictionaries(
        st.text(alphabet="abcde", min_size=1, max_size=10),
        st.integers(min_value=1, max_value=9),
        min_size=1,
        max_size=20,
    ),
    n=st.integers(min_value=1, max_value=30),
)
def test_bpe_train_local_incremental_equals_naive(words, n):
    """The incremental pair-stat loop (lazy-deletion heap + delta
    updates over affected words) must equal the naive full-recount loop
    at every N — overlap runs, exhaustion, and count ties included."""
    from nlp_to_nosql_spark.operators.selection import _bpe_merge_loop

    assert _bpe_merge_loop(dict(words), n) == _naive_merge_loop(words, n)


# ---------------------------------------------------------------------------
# unigram-LM Viterbi segmentation (tok7)
# ---------------------------------------------------------------------------


def _uv_twin(texts, L=4, min_count=2, scale=1_000_000):
    """Pure-python twin of unigram_viterbi: same inventory, integer-micro
    scores, (score, piece_len)-max DP with longest-piece tie-break."""
    import math
    import re as _re
    from collections import Counter

    words = Counter()
    for t in texts:
        norm = _re.sub(r"\s+", " ", (t or "").strip(" ").lower())
        for w in norm.split(" "):
            if w:
                words[w] += 1
    counts = Counter()
    for w, wc in words.items():
        for j in range(len(w)):
            for l in range(1, min(L, len(w) - j) + 1):
                counts[w[j : j + l]] += wc
    kept = {
        p: c for p, c in counts.items() if len(p) == 1 or c >= min_count
    }
    t_tot = sum(kept.values())
    lp = {
        p: math.floor((math.log(c) - math.log(t_tot)) * scale)
        for p, c in kept.items()
    }
    out = {}
    for w, wc in words.items():
        n = len(w)
        dp = [(0, 0)] + [None] * n  # (score, backpointer)
        for i in range(1, n + 1):
            best = None
            for off in range(1, min(L, i) + 1):
                j = i - off
                piece = w[j:i]
                if piece not in lp or dp[j] is None:
                    continue
                cand = (dp[j][0] + lp[piece], off)
                if best is None or cand > best[0:2]:
                    best = (cand[0], cand[1], j)
            dp[i] = (best[0], best[2])
        pieces = []
        pos = n
        while pos > 0:
            bp = dp[pos][1]
            pieces.insert(0, w[bp:pos])
            pos = bp
        out[w] = (wc, len(pieces), " ".join(pieces), dp[n][0])
    return out


def test_unigram_viterbi_matches_pure_python_on_random_corpus(spark):
    from nlp_to_nosql_spark.operators.selection import unigram_viterbi

    import random

    rng = random.Random(17)
    alphabet = "abcdef"
    texts = [
        " ".join(
            "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 9)))
            for _ in range(rng.randint(1, 12))
        )
        for _ in range(40)
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["word"]: (r["wc"], r["n_pieces"], r["seg"], r["score_micro"])
        for r in unigram_viterbi(df, max_piece_len=4, min_count=2).collect()
    }
    assert got == _uv_twin(texts)


def test_unigram_viterbi_prefers_longer_piece_on_score_tie(spark):
    from nlp_to_nosql_spark.operators.selection import unigram_viterbi

    # 'ab' appears twice (kept, c=2); 'a'/'b' singles c=2 each.  Any
    # exact score tie between ['ab'] and ['a','b'] must resolve to the
    # longer piece; with lp(ab)=lp(a)=lp(b) impossible here, assert the
    # structural invariant instead: every segmentation is optimal per
    # the twin (which implements the same tie-break).
    texts = ["ab ab aab"]
    df = spark.createDataFrame([(0, texts[0])], "doc_id long, text string")
    got = {
        r["word"]: r["seg"]
        for r in unigram_viterbi(df, max_piece_len=4, min_count=2).collect()
    }
    want = {w: v[2] for w, v in _uv_twin(texts).items()}
    assert got == want
    assert got["ab"] == "ab"  # whole word kept as one piece


def test_unigram_viterbi_single_chars_always_segmentable(spark):
    from nlp_to_nosql_spark.operators.selection import unigram_viterbi

    # every word is unique → no multi-char piece reaches min_count;
    # all words must still segment (into single chars)
    df = spark.createDataFrame(
        [(0, "wxyz qrst mnop")], "doc_id long, text string"
    )
    rows = unigram_viterbi(df, max_piece_len=4, min_count=2).collect()
    assert len(rows) == 3
    for r in rows:
        assert r["n_pieces"] == len(r["word"])
        assert r["seg"] == " ".join(r["word"])


def test_unigram_encode_len_sums_piece_counts_per_doc(spark):
    from nlp_to_nosql_spark.operators.selection import (
        unigram_encode_len,
        unigram_viterbi,
    )

    texts = ["banana bandana", "banana banana x", ""]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    pieces = {
        r["word"]: r["n_pieces"]
        for r in unigram_viterbi(df, max_piece_len=4, min_count=2).collect()
    }
    got = {
        r["doc_id"]: r["n_tokens"]
        for r in unigram_encode_len(df).collect()
    }
    want = {
        i: sum(pieces[w] for w in t.split() if w)
        for i, t in enumerate(texts)
    }
    assert got == want
    assert got[2] == 0  # empty doc stays in the mapping with 0 tokens


def test_kcenter_matches_pure_python_traversal(spark):
    """Greedy farthest-point vs a pure-python twin on a corpus with a
    planted far outlier: the outlier must be picked second."""
    import math
    import random

    from nlp_to_nosql_spark.operators.selection import kcenter_select

    rng = random.Random(5)
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(6)]) for i in range(25)]
    vecs.append((25, [50.0] * 6))  # planted outlier
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")

    def micro(v):
        return [math.floor(x * 1_000_000) for x in v]

    mv = {i: micro(v) for i, v in vecs}

    def d2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    picks = [(1, 0, 0)]
    chosen = [0]
    for r in range(2, 5):
        best = None
        for i in sorted(mv):
            if i in chosen:
                continue
            dmin = min(d2(mv[i], mv[c]) for c in chosen)
            if best is None or (dmin, -i) > (best[1], -best[0]):
                best = (i, dmin)
        picks.append((r, best[0], best[1]))
        chosen.append(best[0])
    got = sorted(tuple(r) for r in kcenter_select(df, k=4).collect())
    assert got == picks
    assert got[1][1] == 25  # the planted outlier is selected second


def test_kcenter_fewer_rows_than_k(spark):
    from nlp_to_nosql_spark.operators.selection import kcenter_select

    df = spark.createDataFrame(
        [(3, [1.0, 0.0]), (7, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    rows = sorted(tuple(r) for r in kcenter_select(df, k=5).collect())
    assert [r[0] for r in rows] == [1, 2]
    assert rows[0][1] == 3  # lowest id seeds

def test_kcenter_string_ids(spark):
    """Round-11 advisory: the result schema must mirror the INPUT id
    type — string ids traverse and assemble identically to longs."""
    from nlp_to_nosql_spark.operators.selection import kcenter_select

    df = spark.createDataFrame(
        [("a", [0.0, 0.0]), ("b", [1.0, 0.0]), ("c", [10.0, 10.0])],
        "vec_id string, embedding array<double>",
    )
    out = kcenter_select(df, k=3)
    assert out.schema["vec_id"].dataType.simpleString() == "string"
    rows = sorted(tuple(r) for r in out.collect())
    assert rows[0] == (1, "a", 0)  # lowest id seeds
    assert rows[1][1] == "c"  # farthest point second


def test_unigram_train_prune_keeps_chars_segmentable(spark):
    """tok8: every single character survives pruning (coalesced to 0
    uses when longer pieces cover it) and the target-vocab prune keeps
    the top multi-char pieces by (c DESC, piece ASC)."""
    from nlp_to_nosql_spark.operators.selection import unigram_train

    df = spark.createDataFrame(
        [(1, "abab abab abab cd"), (2, "abab cd cd")],
        "doc_id long, text string",
    )
    rows = {r["piece"]: r for r in unigram_train(
        df, "text", max_piece_len=4, min_count=2, n_iters=2, max_pieces=1
    ).collect()}
    chars = {p for p in rows if len(p) == 1}
    assert chars == {"a", "b", "c", "d"}
    multi = sorted(p for p in rows if len(p) >= 2)
    assert len(multi) == 1  # max_pieces=1 pruned the rest
    assert rows[multi[0]]["c"] > 0
    # chars fully covered by the surviving piece carry 0 uses but stay
    assert all(rows[p]["lp_micro"] is not None for p in chars)


def test_unigram_artifact_roundtrip_matches_in_plan_encode(spark):
    """pipe11's artifact split (unigram_save -> unigram_load ->
    unigram_encode_len_artifact) must produce exactly the counts of the
    DuckDB twin that trains and encodes in ONE CTE chain
    (unigram_encode_len_trained_ctes) — the parquet roundtrip is
    BIGINT-exact, so only the lineage (not any value) changes."""
    import tempfile

    from nlp_to_nosql_spark.operators.selection import (
        unigram_encode_len_artifact,
        unigram_encode_len_trained_ctes,
        unigram_load,
        unigram_save,
        unigram_train,
    )

    rows = [
        (1, "banana band bandana"),
        (2, "ana banana banal"),
        (3, ""),
        (4, "band ana ana"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    params = dict(max_piece_len=3, min_count=2, n_iters=2, max_pieces=5)
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = set(
        map(
            tuple,
            con.execute(
                "WITH RECURSIVE "
                + unigram_encode_len_trained_ctes(**params)
                + " SELECT doc_id, n_tokens FROM encoded"
            ).fetchall(),
        )
    )
    path = tempfile.mkdtemp(prefix="uni_inv_test_")
    inv = unigram_train(docs, **params)
    unigram_save(inv, path)
    loaded = unigram_load(path, spark)
    assert sorted(tuple(r) for r in loaded.collect()) == sorted(
        tuple(r) for r in inv.collect()
    )
    got = {
        (r["doc_id"], r["n_tokens"])
        for r in unigram_encode_len_artifact(
            docs, path, max_piece_len=3
        ).collect()
    }
    assert len(want) == len(rows)
    assert got == want


def test_unigram_load_rejects_corrupt_artifact(spark):
    import tempfile

    import pytest as _pytest

    from nlp_to_nosql_spark.operators.selection import unigram_load

    path = tempfile.mkdtemp(prefix="uni_bad_test_")
    spark.createDataFrame(
        [("a", 1)], "piece string, c long"
    ).write.mode("overwrite").parquet(path)
    with _pytest.raises(ValueError, match="columns"):
        unigram_load(path, spark)
    path2 = tempfile.mkdtemp(prefix="uni_bad2_test_")
    spark.createDataFrame(
        [("", 1, 2)], "piece string, c long, lp_micro long"
    ).write.mode("overwrite").parquet(path2)
    with _pytest.raises(ValueError, match="corrupt"):
        unigram_load(path2, spark)
