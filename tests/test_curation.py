"""Curation operators: repetition signals, PII redaction, mixture sampling."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nlp_to_nosql_spark.operators.curation import (
    PII_PATTERNS,
    pii_report,
    repetition_signals,
    sample_mixture,
)


@pytest.fixture(scope="module")
def crafted(spark):
    return spark.createDataFrame(
        [
            (1, "a a a a"),                 # fully repetitive
            (2, "a b c d"),                 # fully distinct
            (3, "word"),                    # single word: no bigrams
            (4, "x y x y x y"),             # dominant bigram pattern
        ],
        "doc_id long, text string",
    )


def test_repetition_signals_values(crafted):
    rows = {r["doc_id"]: r for r in repetition_signals(crafted).collect()}
    r1 = rows[1]
    assert r1["n_words"] == 4 and r1["distinct_word_frac"] == 0.25
    assert r1["top_word_frac"] == 1.0 and r1["top_2gram_frac"] == 1.0
    r2 = rows[2]
    assert r2["distinct_word_frac"] == 1.0 and r2["top_word_frac"] == 0.25
    assert r2["top_2gram_frac"] == pytest.approx(1 / 3, abs=1e-6)
    r3 = rows[3]
    assert r3["n_words"] == 1 and r3["top_2gram_frac"] == 0.0  # not NULL
    r4 = rows[4]  # "x y" appears 3 of 5 bigrams
    assert r4["top_2gram_frac"] == 0.6


def test_pii_counts_and_redaction(spark):
    df = spark.createDataFrame(
        [
            (1, "mail bob@corp.example.org now"),
            (2, "ssn 123-45-6789 ip 192.168.0.1 tel +1-555-0100"),
            (3, "clean text with no identifiers"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in pii_report(df).collect()}
    assert rows[1]["n_email"] == 1 and "[PII]" in rows[1]["redacted"]
    assert "bob@" not in rows[1]["redacted"]
    r2 = rows[2]
    assert (r2["n_ssn"], r2["n_ipv4"], r2["n_phone"]) == (1, 1, 1)
    assert r2["redacted"] == "ssn [PII] ip [PII] tel [PII]"
    r3 = rows[3]
    assert (r3["n_email"], r3["n_ssn"], r3["n_ipv4"], r3["n_phone"]) == (0, 0, 0, 0)
    assert r3["redacted"] == "clean text with no identifiers"


def test_pii_patterns_have_no_lookaround():
    """DuckDB's RE2 rejects lookaround — the portable-pattern contract."""
    for pat in PII_PATTERNS.values():
        assert "(?=" not in pat and "(?<" not in pat and "(?!" not in pat


def test_sample_mixture_deterministic_and_rate_accurate(spark):
    n = 10_000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("de").alias("lang"),
    )
    rates = {"en": 0.25, "de": 0.75}
    a = sorted(r["doc_id"] for r in sample_mixture(df, rates).collect())
    b = sorted(r["doc_id"] for r in sample_mixture(df, rates).collect())
    assert a == b  # deterministic: retries keep the identical sample
    kept = sample_mixture(df, rates).groupBy("lang").count().collect()
    by_lang = {r["lang"]: r["count"] for r in kept}
    assert by_lang["en"] / (n / 2) == pytest.approx(0.25, abs=0.03)
    assert by_lang["de"] / (n / 2) == pytest.approx(0.75, abs=0.03)


def test_sample_mixture_edge_rates(spark):
    df = spark.createDataFrame(
        [(1, "en"), (2, "xx"), (3, "en")], "doc_id long, lang string"
    )
    # unknown category drops by default (an unlisted source must be an
    # explicit decision), keep-all keeps everything listed
    out = sample_mixture(df, {"en": 1.0})
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 3]
    assert sample_mixture(df, {"en": 0.0}).count() == 0
    # default_rate opts unknown categories back in
    assert sample_mixture(df, {"en": 0.0}, default_rate=1.0).count() == 1


def test_seed_changes_sample(spark):
    df = spark.range(1000).select(F.col("id").alias("doc_id"), F.lit("en").alias("lang"))
    s1 = {r["doc_id"] for r in sample_mixture(df, {"en": 0.5}, seed=1).collect()}
    s2 = {r["doc_id"] for r in sample_mixture(df, {"en": 0.5}, seed=2).collect()}
    assert s1 != s2 and 350 < len(s1) < 650


def test_chunk_by_tokens_coverage_and_overlap(spark):
    from nlp_to_nosql_spark.operators.curation import chunk_by_tokens

    words = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame([(1, words), (2, "solo"), (3, "")],
                               "doc_id long, text string")
    out = chunk_by_tokens(df, chunk_tokens=4, overlap=2)
    rows = sorted(
        ((r["doc_id"], r["chunk_idx"], r["chunk"]) for r in out.collect())
    )
    by_doc = {}
    for d, i, c in rows:
        by_doc.setdefault(d, []).append(c)
    # stride 2, k_max = ceil((10-4)/2) = 3 → starts 1,3,5,7: the minimal
    # strided cover.  A naive "while start <= n" rule would add a fifth
    # chunk "w8 w9" — a pure suffix of chunk 4, i.e. duplicated content.
    assert by_doc[1] == [
        "w0 w1 w2 w3", "w2 w3 w4 w5", "w4 w5 w6 w7", "w6 w7 w8 w9",
    ]
    # consecutive chunks share exactly the 2-word overlap
    for a, b in zip(by_doc[1], by_doc[1][1:]):
        assert a.split()[-2:] == b.split()[:2]
    assert by_doc[2] == ["solo"]
    assert len(by_doc[3]) == 1  # empty doc → one (empty) chunk, mapping total


def test_chunk_no_redundant_suffix_chunks(spark):
    """The review scenario: (n-1) mod stride < overlap must NOT emit a
    final chunk fully contained in the previous one; a short remainder
    that adds new words still must."""
    from nlp_to_nosql_spark.operators.curation import chunk_by_tokens

    def chunks_for(n):
        df = spark.createDataFrame(
            [(1, " ".join(f"w{i}" for i in range(n)))], "doc_id long, text string"
        )
        out = chunk_by_tokens(df, chunk_tokens=64, overlap=16)
        return [r["chunk"].split() for r in out.orderBy("chunk_idx").collect()]

    # n=50 < chunk: one chunk, all words
    assert [len(c) for c in chunks_for(50)] == [50]
    # n=112 = 64 + 48: exactly two chunks; the old rule emitted a third
    # (words 97-112) fully inside chunk 2 (words 49-112)
    c112 = chunks_for(112)
    assert [len(c) for c in c112] == [64, 64]
    assert c112[-1][-1] == "w111"  # full coverage
    # n=113: the third chunk adds word 113 → must exist
    c113 = chunks_for(113)
    assert len(c113) == 3 and c113[-1][-1] == "w112"
    # no chunk is ever a contiguous sub-span of its predecessor
    for cs in (c112, c113):
        for a, b in zip(cs, cs[1:]):
            assert not set(b) <= set(a)


def test_chunk_by_tokens_validates_overlap(spark):
    from nlp_to_nosql_spark.operators.curation import chunk_by_tokens

    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="overlap"):
        chunk_by_tokens(df, chunk_tokens=4, overlap=4)


def test_bigram_likelihood_scores(spark):
    from nlp_to_nosql_spark.operators.curation import bigram_likelihood

    df = spark.createDataFrame(
        [
            (1, "the cat sat"),   # "the cat" and "cat sat" unique given corpus
            (2, "the cat ran"),
            (3, "solo"),          # no bigrams → NULL score
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in bigram_likelihood(df).collect()}
    # corpus: "the cat" x2 (prefix "the" x2 → p=1.0), "cat sat"/"cat ran"
    # each 1 of prefix "cat" x2 → p=0.5
    assert rows[1]["n_bigrams"] == 2
    assert rows[1]["mean_cond_prob_micro"] == (1_000_000 + 500_000) // 2
    assert rows[2]["mean_cond_prob_micro"] == rows[1]["mean_cond_prob_micro"]
    assert rows[3]["n_bigrams"] == 0 and rows[3]["mean_cond_prob_micro"] is None


def test_gopher_rules_flags_and_keep(spark):
    from nlp_to_nosql_spark.operators.curation import (
        GOPHER_THRESHOLDS,
        gopher_rules,
    )

    good = "the cat sat on the mat and then it ran off to the big red barn"
    df = spark.createDataFrame(
        [
            (1, good),                       # passes every rule
            (2, "tiny doc"),                 # too few words
            (3, "a a a a a a a a a a"),      # repetitive + short mean length
            (4, "the " + "#$%@! " * 20),     # symbol-heavy
            (5, "alpha beta gamma delta epsilon zeta eta theta"),  # 0 stopwords
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in gopher_rules(df).collect()}
    assert rows[1]["keep"] is True
    assert rows[2]["keep"] is False  # n_words < min_words
    r3 = rows[3]
    assert r3["keep"] is False
    assert r3["distinct_word_frac"] < GOPHER_THRESHOLDS["min_distinct_word_frac"]
    assert r3["mean_word_len"] < GOPHER_THRESHOLDS["min_mean_word_len"]
    r4 = rows[4]
    assert r4["keep"] is False
    assert r4["symbol_frac"] > GOPHER_THRESHOLDS["max_symbol_frac"]
    r5 = rows[5]
    assert r5["keep"] is False and r5["n_stopwords"] == 0


def test_gopher_rules_null_and_empty_text(spark):
    from nlp_to_nosql_spark.operators.curation import gopher_rules

    df = spark.createDataFrame(
        [(1, None), (2, "")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in gopher_rules(df).collect()}
    for r in rows.values():  # both normalize to '' — dropped, never NULL
        assert r["keep"] is False
        assert r["symbol_frac"] == 0.0 and r["n_stopwords"] == 0


def test_temperature_sample_upweights_small_sources(spark):
    from nlp_to_nosql_spark.operators.curation import temperature_sample

    rows = [(i, "big") for i in range(900)] + [
        (i + 900, "small") for i in range(100)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = temperature_sample(df, target_frac=0.5, seed=7)
    thresholds = {
        r["source"]: r["threshold_micro"]
        for r in out.select("source", "threshold_micro").distinct().collect()
    }
    # sqrt flattening: big keeps 0.5*1000*30/(40*900) = 41.7%; small's
    # uncapped 3x rate (125%) clamps to 100%
    assert thresholds["big"] == 416666
    assert thresholds["small"] == 1_000_000
    # expected yield ~= 0.42*900 + 100 (binomial tolerance on the big side)
    n_kept = out.count()
    assert 400 <= n_kept <= 560
    # deterministic: same call → identical sample
    ids = {r["doc_id"] for r in out.select("doc_id").collect()}
    ids2 = {
        r["doc_id"]
        for r in temperature_sample(df, target_frac=0.5, seed=7)
        .select("doc_id")
        .collect()
    }
    assert ids == ids2


def test_temperature_sample_rate_caps_at_one(spark):
    from nlp_to_nosql_spark.operators.curation import temperature_sample

    # a tiny source whose uncapped rate would exceed 1.0 must clamp to 1e6
    rows = [(i, "big") for i in range(990)] + [(990, "rare")]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = temperature_sample(df, target_frac=0.9, seed=7)
    rare = out.filter(F.col("source") == "rare").collect()
    assert len(rare) == 1 and rare[0]["threshold_micro"] == 1_000_000


def test_boilerplate_removal_strips_shared_spans_only(spark):
    """A 5-token footer shared by >max_df docs disappears; each doc's
    unique prose survives untouched; a corpus-unique span in few docs is
    left alone."""
    from nlp_to_nosql_spark.operators.curation import remove_boilerplate_spans

    footer = "all rights reserved by acme"
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta gamma delta epsilon {footer}"),
            (2, f"one two three four five {footer}"),
            (3, f"red green blue yellow purple {footer}"),
            (4, f"cats dogs birds fish mice {footer}"),
            # shared by only 2 docs -> below max_df=2, stays
            (5, "shared pair span here okay plus unique tail words here"),
            (6, "shared pair span here okay and another unique ending"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in remove_boilerplate_spans(docs, k=5, max_df=2).collect()
    }
    assert out[1]["clean_text"] == "alpha beta gamma delta epsilon"
    assert out[2]["clean_text"] == "one two three four five"
    assert out[1]["n_removed"] == 5 and out[1]["n_words"] == 10
    # 2-doc span is under the threshold: untouched
    assert out[5]["n_removed"] == 0
    assert out[5]["clean_text"].startswith("shared pair span here okay")
    assert out[6]["n_removed"] == 0


def test_boilerplate_removal_whole_doc_and_overlap(spark):
    """A sub-k duplicate doc repeated corpus-wide is removed entirely
    (clean_text ''), and overlapping boilerplate windows merge their
    coverage instead of double-counting."""
    from nlp_to_nosql_spark.operators.curation import remove_boilerplate_spans

    tail = "standard legal boilerplate text here extra"  # 6 words
    rows = [(i, f"unique{i} prose{i} {tail}") for i in range(1, 5)]
    rows += [(10, "tiny dup"), (11, "tiny dup"), (12, "tiny dup"), (13, "tiny dup")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in remove_boilerplate_spans(docs, k=5, max_df=2).collect()
    }
    # 8-word docs: the shared chunks start at positions 3 and 4 and their
    # overlapping windows merge to cover positions 3..8 -> 6 words
    # removed, the two unique leading words stay
    assert out[1]["clean_text"] == "unique1 prose1"
    assert out[1]["n_removed"] == 6
    # sub-k duplicate: single whole-text chunk in 4 docs -> fully removed
    assert out[10]["clean_text"] == "" and out[10]["n_removed"] == 2


def test_boilerplate_removal_matches_duckdb_twin(spark):
    """Value-level equality with boilerplate_removal_sql on a corpus that
    exercises removal, the below-threshold path, and a NULL text."""
    import duckdb

    from nlp_to_nosql_spark.operators.curation import (
        boilerplate_removal_sql,
        remove_boilerplate_spans,
    )

    footer = "copyright twenty twenty four inc"
    rows = [(i, f"body{i} words{i} differ{i} {footer}") for i in range(1, 6)]
    rows.append((9, None))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        tuple(r)
        for r in remove_boilerplate_spans(docs, k=5, max_df=2).collect()
    )
    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    want = sorted(
        tuple(r)
        for r in con.execute(boilerplate_removal_sql(k=5, max_df=2)).fetchall()
    )
    assert got == want


def test_cap_per_group_bounds_and_determinism(spark):
    from nlp_to_nosql_spark.operators.curation import cap_per_group

    rows = [(i, f"grp{i % 3}") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = cap_per_group(df, group_col="source", n=5, seed=11)
    got = [(r["doc_id"], r["source"], r["cap_rank"]) for r in out.collect()]
    by_group = {}
    for d, s, rk in got:
        by_group.setdefault(s, []).append(rk)
    assert set(by_group) == {"grp0", "grp1", "grp2"}
    for ranks in by_group.values():
        assert sorted(ranks) == [1, 2, 3, 4, 5]
    # determinism across partition layouts
    again = cap_per_group(df.repartition(7), group_col="source", n=5, seed=11)
    assert sorted(got) == sorted(
        (r["doc_id"], r["source"], r["cap_rank"]) for r in again.collect()
    )
    # seeded-shuffle rank, not first-N-by-id: at least one group keeps a
    # doc outside its 5 lowest ids (true for this seed; deterministic)
    kept = {s: sorted(d for d, s2, _ in got if s2 == s) for s in by_group}
    lowest = {s: sorted(i for i in range(60) if f"grp{i % 3}" == s)[:5] for s in by_group}
    assert any(kept[s] != lowest[s] for s in kept)


def test_cap_per_group_small_groups_untouched(spark):
    from nlp_to_nosql_spark.operators.curation import cap_per_group

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "doc_id long, source string"
    )
    out = cap_per_group(df, group_col="source", n=10, seed=11)
    assert out.count() == 3


def test_hash_split_labels_fractions_and_determinism(spark):
    from nlp_to_nosql_spark.operators.curation import hash_split

    df = spark.createDataFrame(
        [(i,) for i in range(2000)], "doc_id long"
    )
    out = hash_split(df, {"train": 0.8, "val": 0.1, "test": 0.1}, seed=23)
    counts = {r["split"]: r["count"] for r in out.groupBy("split").count().collect()}
    assert set(counts) == {"train", "val", "test"}
    assert counts["train"] + counts["val"] + counts["test"] == 2000
    # seeded md5 buckets: fractions land near targets on 2000 ids
    assert 0.75 <= counts["train"] / 2000 <= 0.85
    # partition-layout independence
    again = hash_split(df.repartition(13), {"train": 0.8, "val": 0.1, "test": 0.1}, seed=23)
    assert sorted((r["doc_id"], r["split"]) for r in out.collect()) == sorted(
        (r["doc_id"], r["split"]) for r in again.collect()
    )


def test_hash_split_remainder_goes_to_last_and_validates(spark):
    from nlp_to_nosql_spark.operators.curation import hash_split

    df = spark.createDataFrame([(i,) for i in range(100)], "doc_id long")
    # fractions sum to 0.5: the rest must fall into the LAST split
    out = hash_split(df, {"train": 0.25, "rest": 0.25}, seed=23)
    counts = {r["split"]: r["count"] for r in out.groupBy("split").count().collect()}
    assert counts["train"] + counts["rest"] == 100
    assert counts["rest"] > counts["train"]  # remainder absorbed
    with pytest.raises(ValueError):
        hash_split(df, {"a": 0.8, "b": 0.3})


def test_cap_and_split_match_duckdb_twins(spark):
    import duckdb

    from nlp_to_nosql_spark.operators.curation import (
        cap_per_group,
        cap_per_group_sql,
        hash_split,
        hash_split_sql,
    )

    rows = [(i, f"s{i % 4}") for i in range(80)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    con = duckdb.connect()
    con.register("documents", df.toPandas())
    got = sorted(tuple(r) for r in cap_per_group(df, n=7, seed=11).collect())
    want = sorted(
        tuple(r) for r in con.execute(cap_per_group_sql(n=7, seed=11)).fetchall()
    )
    assert got == want
    got = sorted(tuple(r) for r in hash_split(df, seed=23).collect())
    want = sorted(tuple(r) for r in con.execute(hash_split_sql(seed=23)).fetchall())
    assert got == want


def test_consistent_key_sample_is_joinable(spark):
    """The SAME key survives in every table sampled with the same
    (rate, seed) — and the kept key-set matches the DuckDB hash."""
    import duckdb

    from pyspark.sql import functions as F

    from nlp_to_nosql_spark.operators.curation import (
        consistent_key_sample,
        consistent_sample_sql,
    )

    left = spark.createDataFrame(
        [(i,) for i in range(300)], "k long"
    )
    right = spark.createDataFrame(
        [(i, i * 10) for i in range(300)], "k long, v long"
    )
    ls = {r["k"] for r in consistent_key_sample(left, "k", 0.2).collect()}
    rs = {r["k"] for r in consistent_key_sample(right, "k", 0.2).collect()}
    assert ls == rs  # joinable: identical key-space on both sides
    assert 20 <= len(ls) <= 120  # ~20% of 300, binomial spread
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT unnest(range(300)) AS k")
    want = {
        r[0]
        for r in con.execute(
            "SELECT k FROM t WHERE " + consistent_sample_sql("k", 0.2)
        ).fetchall()
    }
    assert ls == want


def test_stratified_split_exact_counts_per_stratum(spark):
    from nlp_to_nosql_spark.operators.curation import stratified_split

    # deliberately uneven strata, including one smaller than 1/frac
    sizes = {"en": 200, "de": 47, "fr": 9}
    rows, i = [], 0
    for lang, n in sizes.items():
        for _ in range(n):
            rows.append((i, lang))
            i += 1
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = stratified_split(
        df, "lang", {"train": 0.8, "val": 0.1, "test": 0.1}, seed=7
    )
    counts = {
        (r["lang"], r["split"]): r["count"]
        for r in out.groupBy("lang", "split").count().collect()
    }
    for lang, n in sizes.items():
        # cumulative per-mille boundaries: floor(800n/1000), floor(900n/1000)
        n_train = (800 * n) // 1000
        n_val = (900 * n) // 1000 - n_train
        n_test = n - n_train - n_val
        assert counts.get((lang, "train"), 0) == n_train, lang
        assert counts.get((lang, "val"), 0) == n_val, lang
        assert counts.get((lang, "test"), 0) == n_test, lang


def test_stratified_split_partition_invariance_and_validation(spark):
    import pytest as _pytest

    from nlp_to_nosql_spark.operators.curation import stratified_split

    df = spark.createDataFrame(
        [(i, "ab"[i % 2]) for i in range(300)], "doc_id long, lang string"
    )
    out = stratified_split(df, "lang", {"train": 0.9, "test": 0.1}, seed=7)
    again = stratified_split(
        df.repartition(13), "lang", {"train": 0.9, "test": 0.1}, seed=7
    )
    assert sorted((r["doc_id"], r["split"]) for r in out.collect()) == sorted(
        (r["doc_id"], r["split"]) for r in again.collect()
    )
    assert "_rn" not in out.columns and "_n" not in out.columns
    with _pytest.raises(ValueError):
        stratified_split(df, "lang", {"a": 0.8, "b": 0.3})
    # each fraction must be positive on its own, not just sum <= 1
    with _pytest.raises(ValueError, match="positive"):
        stratified_split(df, "lang", {"a": 0.9, "b": -0.1})
    # fractions finer than the integer per-mille grid raise instead of
    # silently shifting the boundary
    with _pytest.raises(ValueError, match="per-mille"):
        stratified_split(df, "lang", {"a": 0.3333, "b": 0.6667})


def test_stratified_split_plan_single_exchange(spark):
    from nlp_to_nosql_spark.operators.curation import stratified_split

    df = spark.createDataFrame(
        [(i, "ab"[i % 2]) for i in range(100)], "doc_id long, lang string"
    )
    out = stratified_split(df, "lang", {"train": 0.9, "test": 0.1}, seed=7)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # both windows share the stratum-key partitioning: exactly one shuffle
    assert plan.count("Exchange") == 1, plan


# ---------------------------------------------------------------------------
# target-trained stupid-backoff LM (lm2)
# ---------------------------------------------------------------------------


def _py_stupid_backoff(pool_rows, target_rows):
    """Reference model of operators/curation.py::target_lm_score — the
    same tokenization, backoff dispatch, α=2/5 integer folding, micro
    floor, and floor-divided mean, in plain Python."""
    import math
    import re

    def toks(t):
        return re.sub(r"\s+", " ", (t or "").strip().lower()).split(" ")

    uni, bi, tri = {}, {}, {}
    n_tok = 0
    for _, t in target_rows:
        ws = toks(t)
        for w in ws:
            uni[w] = uni.get(w, 0) + 1
            n_tok += 1
        for i in range(len(ws) - 1):
            bi[(ws[i], ws[i + 1])] = bi.get((ws[i], ws[i + 1]), 0) + 1
        for i in range(len(ws) - 2):
            k3 = (ws[i], ws[i + 1], ws[i + 2])
            tri[k3] = tri.get(k3, 0) + 1
    n_vocab = len(uni)
    two, five = (1, 2, 4), (1, 5, 25)
    out = {}
    for did, t in pool_rows:
        ws = toks(t)
        lps = []
        for i, w in enumerate(ws):
            pos = i + 1
            w2 = ws[i - 1] if pos >= 2 else None
            w1 = ws[i - 2] if pos >= 3 else None
            c3 = tri.get((w1, w2, w)) if pos >= 3 else None
            c2 = bi.get((w2, w)) if pos >= 2 else None
            if pos >= 3 and c3:
                num, den, k = c3, bi[(w1, w2)], 0
            elif pos >= 2 and c2:
                num, den, k = c2, uni[w2], 1 if pos >= 3 else 0
            else:
                num, den = uni.get(w, 0) + 1, n_tok + n_vocab
                k = 0 if pos == 1 else (1 if pos == 2 else 2)
            lps.append(
                math.floor(
                    (math.log(num * two[k]) - math.log(den * five[k]))
                    * 1_000_000
                )
            )
        out[did] = (len(ws), math.floor(sum(lps) / len(lps)))
    return out


_LM2_TARGET = [
    (100, "the cat sat on the mat"),
    (101, "the cat ran to the mat"),
    (102, "a dog sat"),
]
#: pool docs exercising every backoff path: trigram hit, bigram-only,
#: unigram-only (in-vocab), OOV (add-one), and the pos-1/pos-2 levels.
_LM2_POOL = [
    (1, "the cat sat"),          # pos3 trigram hit
    (2, "the cat slept"),        # pos3 backs off twice (slept is OOV)
    (3, "dog ran"),              # pos2 bigram miss -> unigram k=1
    (4, "zzz"),                  # single OOV token, pos1 unigram k=0
    (5, "mat the cat sat on the mat and more"),
]


def test_target_lm_score_matches_python_model(spark):
    from nlp_to_nosql_spark.operators.curation import target_lm_score

    pool = spark.createDataFrame(_LM2_POOL, "doc_id long, text string")
    target = spark.createDataFrame(_LM2_TARGET, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["mean_lp_micro"])
        for r in target_lm_score(pool, target).collect()
    }
    assert got == _py_stupid_backoff(_LM2_POOL, _LM2_TARGET)


def test_target_lm_score_level_dispatch(spark):
    """Spot-check the backoff arithmetic itself (not just model parity):
    doc 1's third token 'sat' has trigram (the,cat,sat) count 1 over
    bigram prefix (the,cat) count 2 -> ln(1/2) with no α; doc 4 is one
    OOV token at pos 1 -> add-one unigram (0+1)/(N+V) with no α."""
    import math

    from nlp_to_nosql_spark.operators.curation import target_lm_score

    pool = spark.createDataFrame(_LM2_POOL, "doc_id long, text string")
    target = spark.createDataFrame(_LM2_TARGET, "doc_id long, text string")
    got = {
        r["doc_id"]: r for r in target_lm_score(pool, target).collect()
    }
    n_tok = sum(len(t.split()) for _, t in _LM2_TARGET)
    n_vocab = len({w for _, t in _LM2_TARGET for w in t.split()})
    assert (n_tok, n_vocab) == (15, 9)
    assert got[4]["n_tokens"] == 1
    assert got[4]["mean_lp_micro"] == math.floor(
        (math.log(1) - math.log(n_tok + n_vocab)) * 1_000_000
    )
    # doc 1: pos1 unigram('the'): (4+1)/(N+V) k=0; pos2 bigram hit
    # ('the','cat') 2 / uni('the') 4 k=0; pos3 trigram hit 1/2 k=0
    lp1 = math.floor((math.log(5) - math.log(n_tok + n_vocab)) * 1e6)
    lp2 = math.floor((math.log(2) - math.log(4)) * 1e6)
    lp3 = math.floor((math.log(1) - math.log(2)) * 1e6)
    assert got[1]["mean_lp_micro"] == math.floor((lp1 + lp2 + lp3) / 3)


def test_target_lm_score_empty_target_yields_null(spark):
    from nlp_to_nosql_spark.operators.curation import target_lm_score

    pool = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    target = spark.createDataFrame([], "doc_id long, text string")
    rows = target_lm_score(pool, target).collect()
    assert len(rows) == 1
    assert rows[0]["mean_lp_micro"] is None


def test_target_lm_score_matches_duckdb_twin(spark):
    """Cross-engine value equality on a mixed fixture with a NULL-lang
    row (NULL predicate -> pool, the DSIR convention the oracle splits
    on) and NULL text (coalesced to '' by the shared tokenizer)."""
    import duckdb
    import pandas as pd

    from nlp_to_nosql_spark.operators.curation import (
        target_lm_score,
        target_lm_sql,
    )

    rows = [
        (1, "the cat sat on the mat", "en"),
        (2, "the cat ran to the mat and sat", "en"),
        (3, "el gato corre", "es"),
        (4, "the cat sat quietly", "es"),
        (5, None, "es"),
        (6, "cat cat cat", None),  # NULL lang -> pool
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    pred = F.col("lang") == "en"
    got = sorted(
        tuple(r)
        for r in target_lm_score(
            df.filter(~pred.eqNullSafe(F.lit(True))),
            df.filter(pred.eqNullSafe(F.lit(True))),
        ).collect()
    )
    con = duckdb.connect()
    con.register(
        "documents", pd.DataFrame(rows, columns=["doc_id", "text", "lang"])
    )
    want = sorted(
        tuple(r) for r in con.execute(target_lm_sql("lang = 'en'")).fetchall()
    )
    assert got == want


def test_target_lm_score_plan_jvm_only(spark):
    from nlp_to_nosql_spark.operators.curation import target_lm_score

    pool = spark.createDataFrame(_LM2_POOL, "doc_id long, text string")
    target = spark.createDataFrame(_LM2_TARGET, "doc_id long, text string")
    q = target_lm_score(pool, target)
    plan = q._sc._jvm.PythonSQLUtils.explainString(
        q._jdf.queryExecution(), "simple"
    )
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan


def test_ppl_buckets_ntile_and_order(spark):
    """Bucket 1 must hold the most target-like scores per group, with
    the deterministic (score DESC, id) order and NTILE's
    remainder-to-earlier-buckets semantics."""
    from nlp_to_nosql_spark.operators.curation import ppl_buckets

    target = spark.createDataFrame(
        [(100, "the cat sat on the mat", "en")],
        "doc_id long, text string, lang string",
    )
    pool = spark.createDataFrame(
        [
            (1, "the cat sat", "de"),
            (2, "the cat", "de"),
            (3, "zz yy xx", "de"),
            (4, "qq ww", "de"),
            (5, "the mat", "fr"),
            (6, "vv uu tt", "fr"),
        ],
        "doc_id long, text string, lang string",
    )
    rows = {
        r["doc_id"]: r
        for r in ppl_buckets(pool, target, "lang", n_buckets=3).collect()
    }
    assert len(rows) == 6
    # de: 4 docs -> NTILE(3) gives buckets of size 2,1,1 in score order
    de = sorted(
        ((-rows[i]["mean_lp_micro"], i, rows[i]["ppl_bucket"]) for i in (1, 2, 3, 4))
    )
    assert [b for _, _, b in de] == [1, 1, 2, 3]
    # fr: 2 docs -> buckets 1 and 2; target-like doc 5 first
    assert rows[5]["ppl_bucket"] == 1 and rows[6]["ppl_bucket"] == 2
    assert rows[5]["mean_lp_micro"] > rows[6]["mean_lp_micro"]


def test_ppl_buckets_matches_duckdb_twin(spark):
    import duckdb
    import pandas as pd

    from nlp_to_nosql_spark.operators.curation import (
        ppl_buckets,
        ppl_buckets_sql,
    )

    rows = [
        (1, "the cat sat on the mat", "en"),
        (2, "a dog ran to the mat", "en"),
        (3, "el gato", "es"),
        (4, "the cat sat", "es"),
        (5, "un perro corre", "es"),
        (6, None, "es"),
        (7, "the mat the mat", None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    pred = F.col("lang") == "en"
    got = sorted(
        tuple(r)
        for r in ppl_buckets(
            df.filter(~pred.eqNullSafe(F.lit(True))),
            df.filter(pred.eqNullSafe(F.lit(True))),
            "lang",
            n_buckets=3,
        ).collect()
    )
    con = duckdb.connect()
    con.register(
        "documents", pd.DataFrame(rows, columns=["doc_id", "text", "lang"])
    )
    want = sorted(
        tuple(r)
        for r in con.execute(
            ppl_buckets_sql("lang = 'en'", "lang", 3)
        ).fetchall()
    )
    assert got == want


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    HAVE_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    HAVE_HYPOTHESIS = False


@pytest.mark.skipif(not HAVE_HYPOTHESIS, reason="hypothesis not installed")
# libm-floor pin (the model floors ln-of-exact-product differences
# against DuckDB's ln): derandomized per test_float_floor_property's
# docstring — a 1-ulp libm divergence must fail deterministically
@settings(max_examples=60, deadline=None, derandomize=True)
@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=18),
        min_size=1,
        max_size=10,
    ),
    split=st.integers(min_value=0, max_value=3),
)
def test_target_lm_sql_matches_python_on_random_corpora(texts, split):
    """The lm2 DuckDB twin equals the pure-Python stupid-backoff model
    on arbitrary tiny corpora — whitespace-only texts, repeated tokens,
    single-token docs, and empty targets included (DuckDB-only per
    example so hypothesis can afford real case counts; the Spark side
    is pinned to the same model by the fixed-fixture tests)."""
    import duckdb
    import pandas as pd

    from nlp_to_nosql_spark.operators.curation import target_lm_sql

    rows = [
        (i, t, "en" if i % 4 == split else "xx")
        for i, t in enumerate(texts)
    ]
    target_rows = [(i, t) for i, t, lang in rows if lang == "en"]
    pool_rows = [(i, t) for i, t, lang in rows if lang != "en"]
    con = duckdb.connect()
    con.register(
        "documents", pd.DataFrame(rows, columns=["doc_id", "text", "lang"])
    )
    got = {
        r[0]: (r[1], r[2])
        for r in con.execute(target_lm_sql("lang = 'en'")).fetchall()
    }
    if not target_rows:
        # empty target: NULL scores, token counts still real
        assert set(got) == {i for i, _ in pool_rows}
        assert all(v[1] is None for v in got.values())
    else:
        assert got == _py_stupid_backoff(pool_rows, target_rows)


def test_target_lm_artifact_roundtrip(spark, tmp_path):
    """The LM-artifact contract: scoring from the persisted count
    tables equals the in-plan two-frame score — on the fitted pool AND
    on unseen text (the artifact alone determines every score)."""
    from nlp_to_nosql_spark.operators.curation import (
        target_lm_fit,
        target_lm_score,
        target_lm_score_artifact,
    )

    target = spark.createDataFrame(_LM2_TARGET, "doc_id long, text string")
    pool = spark.createDataFrame(_LM2_POOL, "doc_id long, text string")
    unseen = spark.createDataFrame(
        [(900, "never seen wording qq zz")], "doc_id long, text string"
    )
    path = str(tmp_path / "lm")
    target_lm_fit(target, path)
    for frame in (pool, unseen):
        want = sorted(
            tuple(r) for r in target_lm_score(frame, target).collect()
        )
        got = sorted(
            tuple(r)
            for r in target_lm_score_artifact(frame, path).collect()
        )
        assert got == want


def test_artifact_writes_join_callers_job_group(spark, tmp_path):
    """The artifact parts are written from pool threads; each write job
    must carry the CALLER's job group, or ``run_with_timeout`` could
    neither cancel nor attribute it (a plain pool thread starts with
    empty local properties).  The wrapper is given the session, so it
    carries session tags too and does not warn that it cannot."""
    import time
    import uuid
    import warnings

    from nlp_to_nosql_spark.operators.curation import _write_artifact

    sc = spark.sparkContext
    group = f"probe-group-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            _write_artifact(
                str(tmp_path / "art"), {"a": spark.range(3), "b": spark.range(5)}
            )
    finally:
        for key in (
            "spark.jobGroup.id",
            "spark.job.description",
            "spark.job.interruptOnCancel",
        ):
            sc.setLocalProperty(key, None)
    # Job-start events reach the status store asynchronously.
    deadline = time.monotonic() + 10
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    while len(jobs) < 2 and time.monotonic() < deadline:
        time.sleep(0.1)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) >= 2, f"write jobs outside the caller's group: {jobs}"
    assert not [
        w for w in caught if "Spark session is not provided" in str(w.message)
    ]


def test_target_lm_load_rejects_schema_drift(spark, tmp_path):
    from nlp_to_nosql_spark.operators.curation import (
        target_lm_fit,
        target_lm_load,
    )

    target = spark.createDataFrame(_LM2_TARGET, "doc_id long, text string")
    path = str(tmp_path / "lm")
    target_lm_fit(target, path)
    # corrupt one part: wrong column name
    spark.createDataFrame(
        [("x", 1)], "word string, c1 long"
    ).write.mode("overwrite").parquet(f"{path}/uni")
    with pytest.raises(ValueError, match="lacks columns"):
        target_lm_load(path, spark)


# ---------------------------------------------------------------------------
# UniMax water-filling allocation (mix3)
# ---------------------------------------------------------------------------


def _unimax_twin(sizes, budget, e):
    """Pure-python water-filling: caps ascending, capped prefix, exact
    integer even split of the residue."""
    caps = sorted(((n * e, k, n) for k, n in sizes.items()))
    m = len(caps)
    out = {}
    rem, taken = budget, 0
    istar = 0
    s = 0
    for idx, (c, k, n) in enumerate(caps, 1):
        if c * (m - idx + 1) <= budget - s:
            istar, s = idx, s + c
    for idx, (c, k, n) in enumerate(caps, 1):
        if idx <= istar:
            alloc = c
        elif m > istar:
            alloc = (budget - s) // (m - istar)
        else:
            alloc = 0
        out[k] = (n, c, alloc, (alloc * 1_000_000) // n)
    return out


def test_unimax_matches_pure_python_waterfill(spark):
    from nlp_to_nosql_spark.operators.curation import unimax_allocation

    rows = [
        (0, "a " * 100, "en"), (1, "b " * 40, "fr"),
        (2, "c " * 25, "de"), (3, "d " * 5, "zh"), (4, "e " * 30, "fr"),
    ]
    df = spark.createDataFrame(
        [(i, t.strip(), l) for i, t, l in rows],
        "doc_id long, text string, lang string",
    )
    sizes = {"en": 100, "fr": 70, "de": 25, "zh": 5}
    for budget in (10, 60, 150, 10_000):
        got = {
            r["lang"]: (
                r["n_tokens"], r["cap"], r["allocation"], r["epochs_micro"]
            )
            for r in unimax_allocation(
                df, "lang", budget=budget, max_epochs=2
            ).collect()
        }
        assert got == _unimax_twin(sizes, budget, 2), f"budget={budget}"


def test_unimax_allocations_never_exceed_caps_and_sum_within_budget(spark):
    from nlp_to_nosql_spark.operators.curation import unimax_allocation

    df = spark.createDataFrame(
        [(i, "w " * (i + 1), f"l{i % 4}") for i in range(12)],
        "doc_id long, text string, lang string",
    )
    rows = unimax_allocation(df, "lang", budget=37, max_epochs=3).collect()
    assert sum(r["allocation"] for r in rows) <= 37
    for r in rows:
        assert 0 <= r["allocation"] <= r["cap"]


def test_filter_attribution_counts_are_consistent(spark):
    """Internal consistency: n_fail_only <= n_fail per gate, n_pass_all
    constant, and n_docs - pass_all <= sum of fails (inclusion)."""
    from pyspark.sql import functions as F

    from nlp_to_nosql_spark.operators.curation import filter_attribution

    rows = [
        (i, " ".join(f"w{j % 11}" for j in range(5 + (i * 7) % 40)),
         "en" if i % 3 == 0 else "fr")
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = filter_attribution(df, F.col("lang") == "en").collect()
    assert {r["gate"] for r in out} == {"c4", "gopher", "classifier", "ppl"}
    pass_all = {r["n_pass_all"] for r in out}
    assert len(pass_all) == 1
    for r in out:
        assert r["n_docs"] == 30
        assert 0 <= r["n_fail_only"] <= r["n_fail"] <= 30
    killed = 30 - pass_all.pop()
    assert killed <= sum(r["n_fail"] for r in out)
    assert killed >= max(r["n_fail"] for r in out)


def test_filter_attribution_target_docs_pass_ppl_gate(spark):
    """Every target (en) doc passes the ppl gate by definition, so the
    ppl gate's fail count is bounded by the non-target pool size."""
    from pyspark.sql import functions as F

    from nlp_to_nosql_spark.operators.curation import filter_attribution

    rows = [
        (i, "the cat sat on the mat again and again", "en")
        for i in range(10)
    ] + [(100 + i, f"zz{i} yy{i} xx{i}", "fr") for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r["gate"]: r for r in filter_attribution(
        df, F.col("lang") == "en").collect()}
    assert out["ppl"]["n_fail"] <= 4

def test_unimax_all_null_text_group(spark):
    """Round-11 advisory: a key whose texts are all NULL must count 0
    tokens (not NULL), sort deterministically, and emit NULL
    epochs_micro rather than divide by zero."""
    from nlp_to_nosql_spark.operators.curation import unimax_allocation

    df = spark.createDataFrame(
        [("xx", None), ("xx", None), ("en", "three token text"),
         ("de", "zwei worte")],
        "lang string, text string",
    )
    rows = {r["lang"]: r for r in unimax_allocation(
        df, "lang", budget=10, max_epochs=2
    ).collect()}
    assert rows["xx"]["n_tokens"] == 0
    assert rows["xx"]["cap"] == 0
    assert rows["xx"]["allocation"] == 0
    assert rows["xx"]["epochs_micro"] is None
    assert rows["en"]["n_tokens"] == 3
    # the zero-cap group binds first; the rest water-fill the budget
    assert rows["de"]["allocation"] == rows["de"]["cap"] == 4
    assert rows["en"]["allocation"] == 6


def test_exact_substring_decontaminate_span_overlaps(spark):
    """dc3 span fixtures: prefix, suffix, and interior shared spans are
    removed exactly (k-gram window union); sub-k overlaps survive; docs
    shorter than k (train or eval) contribute nothing."""
    from nlp_to_nosql_spark.operators.curation import (
        exact_substring_decontaminate,
    )

    eval_df = spark.createDataFrame(
        [(100, "p q r s"), (101, "x y")],  # 101 is < k: no grams
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "p q r s t u"),      # prefix overlap: p q r s removed
            (2, "a b p q r s"),      # suffix overlap
            (3, "a p q r s b"),      # interior overlap
            (4, "p q x r s"),        # only sub-k fragments: untouched
            (5, "x y"),              # short train doc: untouched
            (6, "p q r s"),          # whole doc removed -> ''
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r
        for r in exact_substring_decontaminate(train, eval_df, k=3).collect()
    }
    assert got[1]["clean_text"] == "t u" and got[1]["n_removed"] == 4
    assert got[2]["clean_text"] == "a b" and got[2]["n_removed"] == 4
    assert got[3]["clean_text"] == "a b" and got[3]["n_removed"] == 4
    assert got[4]["clean_text"] == "p q x r s" and got[4]["n_removed"] == 0
    assert got[5]["clean_text"] == "x y" and got[5]["n_removed"] == 0
    assert got[6]["clean_text"] == "" and got[6]["n_removed"] == 4


def test_exact_substring_decontaminate_long_span_union(spark):
    """A shared span of length m >= k is removed in ONE piece: its
    m-k+1 matching k-grams' windows union to exactly [span]."""
    from nlp_to_nosql_spark.operators.curation import (
        exact_substring_decontaminate,
    )

    eval_df = spark.createDataFrame(
        [(9, "one two three four five six")], "doc_id long, text string"
    )
    train = spark.createDataFrame(
        [(1, "zz one two three four five six yy")],
        "doc_id long, text string",
    )
    r = exact_substring_decontaminate(train, eval_df, k=3).collect()[0]
    assert r["clean_text"] == "zz yy"
    assert r["n_words"] == 8 and r["n_removed"] == 6


def _kn_pure_python(target_texts, pool_docs):
    """Reference interpolated-KN twin of kneser_ney_score (staged
    BIGINT-nano arithmetic, D=3/4, add-one unigram floor)."""
    import math
    from collections import Counter

    S = 10**9
    tri = Counter()
    uni = set()
    for t in target_texts:
        ws = t.split(" ")
        uni.update(ws)
        for i in range(len(ws) - 2):
            tri[(ws[i], ws[i + 1], ws[i + 2])] += 1
    c2ctx, n1p_uv, cont2 = Counter(), Counter(), Counter()
    for (a, b, c), n in tri.items():
        c2ctx[(a, b)] += n
        n1p_uv[(a, b)] += 1
        cont2[(b, c)] += 1
    ctx2, n1p_v, cont1 = Counter(), Counter(), Counter()
    for (b, c), n in cont2.items():
        ctx2[b] += n
        n1p_v[b] += 1
        cont1[c] += 1
    tot1, V = sum(cont1.values()), len(uni)

    def p1(w):
        return (S * (cont1.get(w, 0) + 1)) // (tot1 + V)

    def p2(v, w):
        if ctx2.get(v, 0) > 0:
            return (
                max(4 * cont2.get((v, w), 0) - 3, 0) * S
                + 3 * n1p_v[v] * p1(w)
            ) // (4 * ctx2[v])
        return p1(w)

    def p3(u, v, w):
        if c2ctx.get((u, v), 0) > 0:
            return (
                max(4 * tri.get((u, v, w), 0) - 3, 0) * S
                + 3 * n1p_uv[(u, v)] * p2(v, w)
            ) // (4 * c2ctx[(u, v)])
        return p2(v, w)

    out = {}
    for did, text in pool_docs:
        ws = text.split(" ")
        lps = []
        for i, w in enumerate(ws):
            p = (
                p1(w)
                if i == 0
                else p2(ws[i - 1], w)
                if i == 1
                else p3(ws[i - 2], ws[i - 1], w)
            )
            lps.append(
                math.floor((math.log(max(p, 1)) - math.log(S)) * 1_000_000)
            )
        out[did] = (len(ws), math.floor(sum(lps) / len(lps)))
    return out


def test_kneser_ney_matches_pure_python_twin(spark):
    """lm5 vs the reference implementation on a seeded random corpus —
    pins the continuation counts, the staged integer interpolation, the
    backoff dispatch, and the per-doc mean."""
    import random

    from nlp_to_nosql_spark.operators.curation import kneser_ney_score

    rng = random.Random(31)
    vocab = ["aa", "bb", "cc", "dd", "ee", "ff"]
    target_texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 12)))
        for _ in range(20)
    ]
    pool_docs = [
        (
            i,
            " ".join(
                rng.choice(vocab + ["oov"])
                for _ in range(rng.randint(1, 10))
            ),
        )
        for i in range(12)
    ]
    target = spark.createDataFrame(
        [(1000 + i, t) for i, t in enumerate(target_texts)],
        "doc_id long, text string",
    )
    pool = spark.createDataFrame(pool_docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["mean_lp_micro"])
        for r in kneser_ney_score(pool, target).collect()
    }
    assert got == _kn_pure_python(target_texts, pool_docs)


def test_kneser_ney_empty_target_yields_null_scores(spark):
    from nlp_to_nosql_spark.operators.curation import kneser_ney_score

    pool = spark.createDataFrame(
        [(1, "some words here")], "doc_id long, text string"
    )
    target = spark.createDataFrame([], "doc_id long, text string")
    rows = kneser_ney_score(pool, target).collect()
    assert rows[0]["mean_lp_micro"] is None
    assert rows[0]["n_tokens"] == 3


def test_kneser_ney_probabilities_proper(spark):
    """Per scored position the staged nano probability never exceeds
    the scale (interpolation weights sum below 1 by construction) —
    so lp_micro <= 0 everywhere."""
    from nlp_to_nosql_spark.operators.curation import kneser_ney_score

    target = spark.createDataFrame(
        [(1, "a b a b a c"), (2, "a b c a b")], "doc_id long, text string"
    )
    pool = spark.createDataFrame(
        [(10, "a b a"), (11, "c a b c"), (12, "zz a b")],
        "doc_id long, text string",
    )
    for r in kneser_ney_score(pool, target).collect():
        assert r["mean_lp_micro"] is not None and r["mean_lp_micro"] <= 0


def test_kn_artifact_roundtrip_equals_in_plan_fit(spark, tmp_path):
    """lm6: scoring from the reloaded artifact equals kneser_ney_score
    on the corpus the artifact was fitted from."""
    from nlp_to_nosql_spark.operators.curation import (
        kneser_ney_fit,
        kneser_ney_score,
        kneser_ney_score_artifact,
    )

    target = spark.createDataFrame(
        [(100, "a b c a b d"), (101, "a b c c")], "doc_id long, text string"
    )
    pool = spark.createDataFrame(
        [(1, "a b c"), (2, "d a b zz")], "doc_id long, text string"
    )
    path = str(tmp_path / "kn_artifact")
    kneser_ney_fit(target, path)
    got = sorted(
        tuple(r) for r in kneser_ney_score_artifact(pool, path).collect()
    )
    want = sorted(
        tuple(r) for r in kneser_ney_score(pool, target).collect()
    )
    assert got == want


def test_kn_load_rejects_schema_drift(spark, tmp_path):
    import pytest as _pytest

    from nlp_to_nosql_spark.operators.curation import (
        kneser_ney_fit,
        kneser_ney_load,
    )

    target = spark.createDataFrame(
        [(1, "a b c d")], "doc_id long, text string"
    )
    path = str(tmp_path / "kn_artifact")
    kneser_ney_fit(target, path)
    # corrupt one part: wrong column name
    spark.createDataFrame(
        [("x", "y", "z", 1)], "a string, b string, c string, n3 long"
    ).write.mode("overwrite").parquet(f"{path}/tri")
    with _pytest.raises(ValueError, match="lacks columns"):
        kneser_ney_load(path, spark)


def test_sampled_tertiles_threshold_semantics(spark):
    """lm7: cut scores come from the SAMPLE's (score DESC, id) order;
    boundary ties land in the better bucket; a group absent from the
    sample emits NULL buckets."""
    from nlp_to_nosql_spark.operators.curation import (
        ppl_buckets_sampled,
        _mix_hash,
        _MIX_BUCKETS,
    )
    from pyspark.sql import functions as F

    target = spark.createDataFrame(
        [(1000 + i, "en", "common words shared by every document")
         for i in range(3)],
        "doc_id long, lang string, text string",
    )
    pool = spark.createDataFrame(
        [(i, "de" if i % 2 else "fr",
          "common words shared" if i < 8 else "zz yy xx ww vv uu")
         for i in range(16)],
        "doc_id long, lang string, text string",
    )
    rate, seed = 0.5, 41
    out = ppl_buckets_sampled(
        pool.select("doc_id", "lang", "text"),
        target.select("doc_id", "lang", "text"),
        "lang",
        rate=rate,
        seed=seed,
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == 16
    # every returned bucket is 1..3 or NULL only for unsampled groups
    sampled_ids = {
        r["doc_id"]
        for r in pool.filter(
            _mix_hash(F.col("doc_id"), seed) < int(rate * _MIX_BUCKETS)
        ).collect()
    }
    sampled_groups = {
        ("de" if i % 2 else "fr") for i in sampled_ids
    }
    for i, r in rows.items():
        g = "de" if i % 2 else "fr"
        if g in sampled_groups:
            assert r["ppl_bucket"] in (1, 2, 3)
        else:
            assert r["ppl_bucket"] is None
    # target-like docs never rank below off-vocabulary docs in a
    # sampled group
    for g in sampled_groups:
        b_common = [r["ppl_bucket"] for i, r in rows.items()
                    if i < 8 and (("de" if i % 2 else "fr") == g)]
        b_weird = [r["ppl_bucket"] for i, r in rows.items()
                   if i >= 8 and (("de" if i % 2 else "fr") == g)]
        if b_common and b_weird:
            assert max(b_common) <= min(b_weird)


def test_longest_shared_span_islands(spark):
    """dc4: island arithmetic — one long shared span reports its full
    token length; two disjoint spans report the longer; sub-k overlap
    reports 0."""
    from nlp_to_nosql_spark.operators.curation import longest_shared_span

    eval_df = spark.createDataFrame(
        [(100, "one two three four five"), (101, "p q r")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "zz one two three four five yy"),   # one 5-token span
            (2, "one two three zz p q r"),          # spans 3 and 3
            (3, "one two zz three four"),           # sub-k pieces only
            (4, "xx yy"),                           # nothing shared
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_shared_grams"], r["longest_span"])
        for r in longest_shared_span(train, eval_df, k=3).collect()
    }
    assert got[1] == (3, 5)   # grams at pos 2,3,4 -> island len 3 -> span 5
    assert got[2] == (2, 3)   # two 1-gram islands, both spans of 3
    assert got[3] == (0, 0)
    assert got[4] == (0, 0)


def test_c4_rules_hand_checked_and_twin(spark):
    """quality6 fixtures: terminal-punct and ≥5-word line gates,
    javascript/policy line drops, brace / lorem-ipsum / <3-sentence
    document drops, NULL text, CRLF trims, tab word splits, quote
    terminators — and the DuckDB twin agrees row-for-row."""
    import duckdb
    import pandas as pd

    from nlp_to_nosql_spark.operators.curation import c4_rules, c4_sql

    rows = [
        (0, "This is a good sentence with many words.\n"
            "Another fine long sentence right here!\n"
            "A third proper sentence stands here too."),
        (1, "Too short.\nNo terminal punctuation on this line here"),
        (2, "This page has braces { inside } of it. "
            "With sentences. Three of them even."),
        (3, "Lorem Ipsum dolor sit amet is placeholder text here.\n"
            "Second real sentence sits right here.\n"
            "Third sentence completes the document now."),
        (4, "Enable javascript to view this content properly please.\n"
            "This line is a real sentence with words.\n"
            "Another actual sentence follows it right here.\n"
            "And one final sentence to be safe here."),
        (5, None),
        (6, "Check our privacy policy for more details please.\n"
            "All rights reserved by the site owner entirely.\n"
            "One genuine sentence lives in this document here.\n"
            "A second genuine sentence arrives right now!\n"
            "The third one asks a question, does it not?"),
        (7, "  Padded line with five words here.  \r\n"
            "Tabs\tbetween\twords\tcount\tproperly now.\n"
            'Quote ended line has enough words "indeed"'),
        (8, "One two three four five.\nSix seven eight nine ten!\n"
            "Is this eleven twelve thirteen?"),  # exactly 5w/3s: keeps
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in c4_rules(df).collect()}
    # line gates
    assert got[1]["n_kept_lines"] == 0 and not got[1]["keep"]
    # doc gates: brace, lorem ipsum (case-insensitive), javascript line
    assert got[2]["has_brace"] and not got[2]["keep"]
    assert got[3]["has_doc_phrase"] and not got[3]["keep"]
    assert got[4]["n_kept_lines"] == 3 and got[4]["keep"]
    # policy boilerplate lines dropped, remaining 3 sentences keep
    assert got[6]["n_kept_lines"] == 3 and got[6]["keep"]
    # NULL text: empty, dropped, never NULL outputs
    assert got[5]["clean_text"] == "" and not got[5]["keep"]
    # CRLF trim + tab word count + quote terminator all pass the line
    # gate; only 2 sentences among kept lines → doc dropped
    assert got[7]["n_kept_lines"] == 3 and got[7]["n_sentences"] == 2
    assert not got[7]["keep"]
    assert got[8]["keep"] and got[8]["n_sentences"] == 3
    # exact twin equality
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = sorted(tuple(r) for r in con.execute(c4_sql()).fetchall())
    assert sorted(tuple(r) for r in got.values()) == want


def test_filter_attribution_c4_gate_nondegenerate(spark):
    """The 4-way marginal algebra with a PARTIALLY-passing c4 gate
    (the synthetic corpus kills it uniformly — non-prose): prose docs
    pass c4, soup docs fail it, and the kill accounting stays exact."""
    from pyspark.sql import functions as F

    from nlp_to_nosql_spark.operators.curation import filter_attribution

    prose = (
        "The quick brown fox jumps over the lazy dog today.\n"
        "A second proper sentence follows the first one here.\n"
        "And a third sentence completes this very document nicely."
    )
    rows = [(i, prose, "en" if i % 3 == 0 else "fr") for i in range(12)] + [
        (100 + i, " ".join(f"w{j % 7}" for j in range(25)), "fr")
        for i in range(6)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r["gate"]: r for r in filter_attribution(
        df, F.col("lang") == "en").collect()}
    # c4 fails exactly the 6 punctuation-free soup docs
    assert out["c4"]["n_fail"] == 6
    assert out["c4"]["n_fail"] < out["c4"]["n_docs"] == 18
    # exact union bound: killed docs <= sum of per-gate fails
    pass_all = out["c4"]["n_pass_all"]
    killed = 18 - pass_all
    assert killed <= sum(r["n_fail"] for r in out.values())
    for r in out.values():
        assert 0 <= r["n_fail_only"] <= r["n_fail"]
