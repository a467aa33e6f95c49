"""Bounded streaming replay must equal the batch operators exactly."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F, types as T

from nlp_to_nosql_spark.operators.sessions import sessionize
from nlp_to_nosql_spark.streaming.history import windowed_event_counts
from nlp_to_nosql_spark.streaming.replay import (
    replay_sessionize,
    replay_windowed_counts,
)

SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def _ts(minute: float) -> datetime.datetime:
    return datetime.datetime(2024, 1, 1) + datetime.timedelta(minutes=minute)


@pytest.fixture(scope="module")
def events(spark):
    rows = [
        # user 1: two sessions split by a 45-min gap; sub-second edge at
        # exactly gap + 1 microsecond (catches second-truncation bugs)
        (1, 1, _ts(0), "click", 1.0),
        (2, 1, _ts(10), "view", 2.0),
        (3, 1, _ts(40) + datetime.timedelta(microseconds=1), "click", 4.0),
        (4, 1, _ts(41), "click", 8.0),
        # user 2: single session
        (5, 2, _ts(5), "view", 16.0),
        (6, 2, _ts(30), "click", 32.0),
    ]
    return spark.createDataFrame(rows, SCHEMA)


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_replay_sessionize_equals_batch(spark, events):
    cols = ["user_id", "session_idx", "session_start", "session_end",
            "n_events", "sum_value"]
    got = _rows(replay_sessionize(spark, events, gap_minutes=30, tag="t1"), cols)
    want = _rows(sessionize(events, gap_minutes=30), cols)
    assert got == want
    # the microsecond-over-gap edge really did split user 1's sessions
    assert len([r for r in got if r[0] == 1]) == 2


def test_replay_windowed_counts_equals_batch(spark, events):
    cols = ["window_start", "event_type", "n_events", "sum_value"]
    got = _rows(replay_windowed_counts(spark, events, tag="t2"), cols)
    want = _rows(windowed_event_counts(events), cols)
    assert got == want and len(got) > 0


def test_replay_dedup_distinct_equals_batch_distinct(spark):
    from nlp_to_nosql_spark.functions.text import fingerprint
    from nlp_to_nosql_spark.streaming.replay import replay_dedup_distinct

    docs = spark.createDataFrame(
        [
            (1, "hello world"),
            (2, "Hello   WORLD"),   # same normalized text as 1
            (3, "something else"),
            (4, "hello world"),     # exact dup of 1
        ],
        "doc_id long, text string",
    )
    got = sorted(r["fp"] for r in replay_dedup_distinct(spark, docs, tag="t3").collect())
    want = sorted(
        r["fp"]
        for r in docs.select(fingerprint(F.col("text")).alias("fp")).distinct().collect()
    )
    assert got == want
    assert len(got) == 2


def test_replay_dim_join_equals_batch(spark, events):
    from nlp_to_nosql_spark.streaming.replay import replay_dim_join

    dim = spark.createDataFrame(
        [(1, "BUILDING"), (2, "MACHINERY")],
        "c_custkey long, c_mktsegment string",
    )
    cols = ["window_start", "c_mktsegment", "n_events", "sum_value"]
    got = _rows(replay_dim_join(spark, events, dim, window="1 hour", tag="t4"), cols)
    want = _rows(
        events.join(
            dim.select(F.col("c_custkey").alias("user_id"), "c_mktsegment"),
            "user_id",
        )
        .groupBy(F.window("ts", "1 hour").alias("w"), "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "c_mktsegment",
                "n_events", "sum_value"),
        cols,
    )
    assert got == want


def test_sessionize_state_survives_micro_batch_boundaries(spark, events, tmp_path):
    """The single-file replay runs one micro-batch; this splits the same
    events into one file per micro-batch (maxFilesPerTrigger=1) so open
    sessions must be carried in state ACROSS batches and still merge into
    the exact batch answer."""
    import os

    from nlp_to_nosql_spark.operators.sessions import sessionize, sessionize_stream

    src = events.select("event_id", "user_id", "ts", "value")
    max_ts = src.agg(F.max("ts")).first()[0]
    # one sentinel per user to flush trailing sessions (same trick as the
    # replay harness), written as the LAST file so it arrives last
    sentinels = (
        src.select("user_id").distinct()
        .select(
            F.lit(-1).cast("long").alias("event_id"),
            "user_id",
            (F.lit(max_ts) + F.expr("INTERVAL 30 DAYS")).alias("ts"),
            F.lit(0.0).alias("value"),
        )
    )
    base = str(tmp_path / "chunks")
    os.makedirs(base)
    ordered = sorted(src.collect(), key=lambda r: r["ts"])
    chunks = [ordered[:2], ordered[2:4], ordered[4:]]
    for i, chunk in enumerate(chunks):
        spark.createDataFrame(chunk, src.schema).coalesce(1).write.parquet(
            f"{base}/c{i}"
        )
    sentinels.coalesce(1).write.parquet(f"{base}/c{len(chunks)}")
    # flatten the per-chunk directories into one glob-able source dir
    files = []
    for i in range(len(chunks) + 1):
        for f in os.listdir(f"{base}/c{i}"):
            if f.endswith(".parquet"):
                files.append((f"{base}/c{i}/{f}", f"{base}/f{i}.parquet"))
    for srcf, dst in files:
        os.rename(srcf, dst)

    stream = (
        spark.readStream.schema("event_id long, user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(base)
    )
    q = (
        sessionize_stream(stream, gap_minutes=30, watermark="0 seconds")
        .writeStream.format("memory")
        .queryName("multibatch_sess")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = (
        spark.table("multibatch_sess")
        .filter(F.col("session_start") <= F.lit(max_ts))
    )
    cols = ["user_id", "session_start", "session_end", "n_events", "sum_value"]
    got = _rows(out, cols)
    want = _rows(
        sessionize(events, gap_minutes=30).select(
            "user_id", "session_start", "session_end", "n_events",
            F.round("sum_value", 2).alias("sum_value"),
        ),
        cols,
    )
    assert got == want


def test_running_totals_replay_matches_batch_and_crosses_batches(spark, tmp_path):
    """The keyed-state accumulator's final per-user totals equal a batch
    GROUP BY, and the update-mode sink shows more rows than users —
    i.e. at least one user was updated in BOTH micro-batches, so the
    state demonstrably carried across the batch boundary."""
    import math

    from pyspark.sql import types as T

    from nlp_to_nosql_spark.streaming.replay import replay_running_totals

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    rows = [(u, float(u) * 1.37 + i) for u in range(6) for i in range(8)]
    events = spark.createDataFrame(rows, schema)

    out = replay_running_totals(spark, events, tag="test_totals")
    got = {r["user_id"]: (r["n_events"], r["value_cents"]) for r in out.collect()}
    want = {}
    for u, v in rows:
        n, c = want.get(u, (0, 0))
        want[u] = (n + 1, c + math.floor(v * 100 + 0.5))
    assert got == want

    # update-mode memory sink keeps one row per (user, batch) — with two
    # micro-batches and 48 rows split ~evenly, some user must repeat.
    sink_rows = spark.table("replay_test_totals_running").count()
    assert sink_rows > len(want)


def test_stream_stream_join_matches_batch_self_join(spark):
    """The watermarked stream-stream join must emit exactly the batch
    self-join's pairs, including the zero-gap edge (purchase at the same
    timestamp as the click) and excluding pairs past the window."""
    import datetime

    from nlp_to_nosql_spark.streaming.replay import replay_click_purchase_join

    events = spark.createDataFrame(
        [
            (1, 1, _ts(0), "click", 1.0),
            (2, 1, _ts(0), "purchase", 1.0),     # zero gap → included
            (3, 1, _ts(59), "purchase", 1.0),    # within the hour
            (4, 1, _ts(61), "purchase", 1.0),    # past it → excluded
            (5, 2, _ts(5), "click", 1.0),
            (6, 2, _ts(64), "purchase", 1.0),    # 59 min after → included
            (7, 3, _ts(0), "purchase", 1.0),     # purchase before any click
            (8, 3, _ts(1), "click", 1.0),
        ],
        SCHEMA,
    )
    got = {
        (r["click_id"], r["purchase_id"], r["user_id"], r["gap_us"])
        for r in replay_click_purchase_join(
            spark, events, window_minutes=60, tag="test_ss"
        ).collect()
    }
    c = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        F.col("ts").alias("cts"),
    )
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("pu"),
        F.col("ts").alias("pts"),
    )
    want = {
        (r["click_id"], r["purchase_id"], r["user_id"], r["gap_us"])
        for r in c.join(
            p,
            (F.col("user_id") == F.col("pu"))
            & (F.col("pts") >= F.col("cts"))
            & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 60 MINUTES")),
        )
        .select(
            "click_id",
            "purchase_id",
            "user_id",
            (F.unix_micros("pts") - F.unix_micros("cts")).cast("long").alias("gap_us"),
        )
        .collect()
    }
    assert got == want and len(want) > 0


def test_dedup_within_watermark_emits_distinct_keys(spark):
    from nlp_to_nosql_spark.streaming.replay import replay_dedup_within_watermark

    events = spark.createDataFrame(
        [
            (1, 1, _ts(0), "click", 1.0),
            (2, 1, _ts(5), "click", 1.0),    # duplicate key → dropped
            (3, 1, _ts(10), "view", 1.0),
            (4, 2, _ts(0), "click", 1.0),
            (5, 2, _ts(1), "click", 1.0),    # duplicate key → dropped
        ],
        SCHEMA,
    )
    out = sorted(
        (r["user_id"], r["event_type"])
        for r in replay_dedup_within_watermark(spark, events, tag="test_wm").collect()
    )
    assert out == [(1, "click"), (1, "view"), (2, "click")]


def test_native_session_window_stream_equals_batch(spark, events):
    """The NATIVE session_window streaming replay must equal the batch
    session_window aggregate exactly (same merge rule, same gap-extended
    window end)."""
    from nlp_to_nosql_spark.streaming.replay import replay_native_session_window

    got = sorted(
        (r["user_id"], r["session_start"], r["session_end_gap"],
         r["n_events"], r["sum_value"])
        for r in replay_native_session_window(
            spark, events, gap_minutes=30, tag="t_nsw"
        ).collect()
    )
    want = sorted(
        (r["user_id"], r["session_window"]["start"], r["session_window"]["end"],
         r["n_events"], r["sum_value"])
        for r in events.groupBy(
            "user_id", F.session_window("ts", "30 minutes")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .collect()
    )
    assert got == want
    assert len(got) == 3  # users 1 (two sessions) + 2 (one)


def _cdc_batch(spark, rows):
    return spark.createDataFrame(
        rows,
        "user_id long, event_type string, ts timestamp_ntz, "
        "event_id long, value double",
    )


def _docs_batch(spark, lo, hi):
    return spark.createDataFrame(
        [(i, "en" if i % 3 else "fr", f"tok{i} tok{i % 4}") for i in range(lo, hi)],
        "doc_id long, lang string, text string",
    )


def _fold_cases():
    from nlp_to_nosql_spark.streaming import replay as r

    cdc_rows = (
        [(1, "click", datetime.datetime(2024, 1, 1), 10, 1.0)],
        [(2, "view", datetime.datetime(2024, 1, 2), 11, 2.0)],
    )
    return {
        "cdc": (
            lambda spark, table, b: r._compact_upsert(spark, table, b),
            lambda spark, i: _cdc_batch(spark, cdc_rows[i]),
        ),
        "hll": (
            lambda spark, table, b: r._fold_registers(spark, table, b),
            lambda spark, i: _docs_batch(spark, 20 * i, 20 * i + 20),
        ),
        "hll_by": (
            lambda spark, table, b: r._fold_registers(
                spark, table, b, ("lang",)
            ),
            lambda spark, i: _docs_batch(spark, 20 * i, 20 * i + 20),
        ),
        "kmv": (
            lambda spark, table, b: r._fold_kmv(spark, table, b, "lang", 8),
            lambda spark, i: _docs_batch(spark, 20 * i, 20 * i + 20),
        ),
    }


@pytest.mark.parametrize("fold_name", ["cdc", "hll", "hll_by", "kmv"])
def test_fold_recovers_crash_parked_state(spark, tmp_path, fold_name):
    """Crash window of the fold swap: after a crash between the two
    os.replace calls the live table sits at ``_old`` with no table dir.
    A retry must restore it and merge BOTH prior state and batch —
    round-6 advice showed the retry otherwise deletes the sole copy of
    prior state and silently drops its keys."""
    import os

    fold, batch = _fold_cases()[fold_name]

    def state(path):
        return sorted(tuple(r) for r in spark.read.parquet(path).collect())

    table = str(tmp_path / "table")
    fold(spark, table, batch(spark, 0))
    # Simulate the crash: table promoted aside, promotion of _next lost.
    os.replace(table, table + "_old")
    assert not os.path.isdir(table)
    fold(spark, table, batch(spark, 1))  # the checkpoint retry

    clean = str(tmp_path / "clean")
    fold(spark, clean, batch(spark, 0))
    fold(spark, clean, batch(spark, 1))
    second_only = str(tmp_path / "second_only")
    fold(spark, second_only, batch(spark, 1))

    assert state(table) == state(clean)
    assert state(table) != state(second_only)  # prior state really merged
    assert not os.path.isdir(table + "_old")


def test_failing_fold_propagates_and_restores_conf(spark, monkeypatch):
    """A foreachBatch fold that raises fails the replay call itself, the
    shuffle-partition conf is restored and the replay lock released, so
    the next replay runs normally."""
    from nlp_to_nosql_spark.operators.sketch import hll_registers
    from nlp_to_nosql_spark.streaming import replay as r

    docs = _docs_batch(spark, 0, 20)
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        def boom(*_args, **_kwargs):
            raise RuntimeError("fold exploded")

        with monkeypatch.context() as m:
            m.setattr(r, "_fold_registers", boom)
            with pytest.raises(Exception, match="fold exploded"):
                r.replay_hll_accumulate(spark, docs, tag="failfold")
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
        assert not r._REPLAY_CONF_LOCK.locked()

        got = {
            tuple(x) for x in r.replay_hll_accumulate(
                spark, docs, tag="failfold"
            ).collect()
        }
        assert got == {tuple(x) for x in hll_registers(docs).collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prior)


def test_hll_accumulate_stream_equals_batch_sketch(spark):
    from nlp_to_nosql_spark.operators.sketch import hll_registers
    from nlp_to_nosql_spark.streaming.replay import replay_hll_accumulate

    docs = spark.createDataFrame(
        [(i, f"alpha tok{i} tok{i % 7} beta") for i in range(40)],
        ["doc_id", "text"],
    )
    got = {
        (r["reg"], r["max_rho"])
        for r in replay_hll_accumulate(spark, docs, tag="hlltest").collect()
    }
    want = {
        (r["reg"], r["max_rho"]) for r in hll_registers(docs).collect()
    }
    # the 2-micro-batch streaming fold must equal the whole-corpus sketch
    assert got == want


def test_hll_by_accumulate_stream_equals_batch_grouped_sketch(spark):
    from nlp_to_nosql_spark.operators.sketch import (
        hll_registers_by,
        tokens_by,
    )
    from nlp_to_nosql_spark.streaming.replay import replay_hll_by_accumulate

    docs = spark.createDataFrame(
        [
            (i, "en" if i % 3 else "fr", f"alpha tok{i} tok{i % 7} beta")
            for i in range(40)
        ],
        ["doc_id", "lang", "text"],
    )
    got = {
        (r["lang"], r["reg"], r["max_rho"])
        for r in replay_hll_by_accumulate(
            spark, docs, key_col="lang", tag="hllbytest"
        ).collect()
    }
    want = {
        (r["lang"], r["reg"], r["max_rho"])
        for r in hll_registers_by(
            tokens_by(docs, ["lang"]), ["lang"], "tok"
        ).collect()
    }
    # the keyed 2-micro-batch streaming fold must equal the whole-corpus
    # grouped sketch, key by key
    assert got == want


def test_hll_by_refold_is_idempotent(spark, tmp_path):
    from nlp_to_nosql_spark.operators.sketch import (
        hll_registers_by,
        tokens_by,
    )
    from nlp_to_nosql_spark.streaming.replay import _fold_registers

    docs = spark.createDataFrame(
        [(i, "en" if i % 2 else "de", f"gamma tok{i}") for i in range(20)],
        ["doc_id", "lang", "text"],
    )
    table = str(tmp_path / "regs_by")
    _fold_registers(spark, table, docs, ("lang",))
    once = {
        (r["lang"], r["reg"], r["max_rho"])
        for r in spark.read.parquet(table).collect()
    }
    _fold_registers(spark, table, docs, ("lang",))  # redelivery
    twice = {
        (r["lang"], r["reg"], r["max_rho"])
        for r in spark.read.parquet(table).collect()
    }
    assert once == twice
    assert once == {
        (r["lang"], r["reg"], r["max_rho"])
        for r in hll_registers_by(
            tokens_by(docs, ["lang"]), ["lang"], "tok"
        ).collect()
    }


def test_hll_accumulate_refold_is_idempotent(spark, tmp_path):
    # re-delivering a batch (at-least-once foreachBatch) must not change
    # the register table: MAX merge is idempotent
    from nlp_to_nosql_spark.operators.sketch import hll_registers
    from nlp_to_nosql_spark.streaming.replay import _fold_registers

    docs = spark.createDataFrame(
        [(i, f"gamma tok{i}") for i in range(20)], ["doc_id", "text"]
    )
    table = str(tmp_path / "regs")

    def fold(batch):
        _fold_registers(spark, table, batch)

    fold(docs)
    once = {
        (r["reg"], r["max_rho"])
        for r in spark.read.parquet(table).collect()
    }
    fold(docs)  # redelivery
    twice = {
        (r["reg"], r["max_rho"])
        for r in spark.read.parquet(table).collect()
    }
    assert once == twice
    assert once == {
        (r["reg"], r["max_rho"]) for r in hll_registers(docs).collect()
    }


def test_cms_accumulate_stream_equals_batch_sketch(spark):
    from nlp_to_nosql_spark.operators.sketch import cms_cells
    from nlp_to_nosql_spark.streaming.replay import replay_cms_accumulate

    docs = spark.createDataFrame(
        [(i, f"delta tok{i} tok{i % 5}") for i in range(30)],
        ["doc_id", "text"],
    )
    got = {
        (r["row"], r["col"], r["cnt"])
        for r in replay_cms_accumulate(spark, docs, tag="cmstest").collect()
    }
    want = {
        (r["row"], r["col"], r["cnt"]) for r in cms_cells(docs).collect()
    }
    # the 2-micro-batch SUM fold must equal the whole-corpus sketch
    assert got == want


def test_cms_accumulate_batch_retry_is_idempotent(spark, tmp_path):
    # a retried batch OVERWRITES its own batch_id directory instead of
    # adding to it — the exactly-once half of the additive-merge sink
    from nlp_to_nosql_spark.operators.sketch import cms_cells
    from nlp_to_nosql_spark.streaming.replay import _fold_cms

    docs = spark.createDataFrame(
        [(i, f"eps tok{i % 3}") for i in range(12)], ["doc_id", "text"]
    )
    parts = str(tmp_path / "parts")
    _fold_cms(parts, docs, 0)
    _fold_cms(parts, docs, 0)  # retry of the SAME batch id
    folded = {
        (r["row"], r["col"], r["cnt"])
        for r in spark.read.option("basePath", parts)
        .parquet(parts)
        .groupBy("row", "col")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    }
    want = {
        (r["row"], r["col"], r["cnt"]) for r in cms_cells(docs).collect()
    }
    assert folded == want


def test_kmv_accumulate_stream_equals_batch_sketch(spark):
    from nlp_to_nosql_spark.operators.sketch import kmv_by
    from nlp_to_nosql_spark.streaming.replay import replay_kmv_accumulate

    docs = spark.createDataFrame(
        [
            (i, "en" if i % 2 else "fr", f"alpha tok{i} tok{i % 9} beta")
            for i in range(40)
        ],
        ["doc_id", "lang", "text"],
    )
    got = {
        (r["lang"], tuple(r["kmv"]), r["n_kept"], r["ndv_est"])
        for r in replay_kmv_accumulate(
            spark, docs, tag="kmvtest", key_col="lang", k=8
        ).collect()
    }
    want = {
        (r["lang"], tuple(r["kmv"]), r["n_kept"], r["ndv_est"])
        for r in kmv_by(docs, ["lang"], "text", k=8).collect()
    }
    # the 2-micro-batch streaming fold must equal the whole-corpus sketch
    assert got == want


def test_kmv_fold_redelivery_is_idempotent(spark, tmp_path):
    """Re-merging the same batch into the bottom-k state is a no-op —
    the property that makes foreachBatch at-least-once delivery safe."""
    from nlp_to_nosql_spark.operators.sketch import kmv_assemble, kmv_by
    from nlp_to_nosql_spark.streaming.replay import _fold_kmv

    docs = spark.createDataFrame(
        [(i, "en", f"tok{i} tok{i % 5}") for i in range(30)],
        ["doc_id", "lang", "text"],
    )
    table = str(tmp_path / "kmv_state")
    k = 8

    def state():
        return sorted(tuple(r) for r in spark.read.parquet(table).collect())

    _fold_kmv(spark, table, docs, "lang", k)
    first = state()
    _fold_kmv(spark, table, docs, "lang", k)  # redelivery
    second = state()
    assert first == second and len(first) == k
    assembled = kmv_assemble(
        spark.read.schema("lang string, h long").parquet(table), ["lang"], k
    )
    assert [tuple(r) for r in assembled.collect()] == [
        tuple(r) for r in kmv_by(docs, ["lang"], "text", k=k).collect()
    ]
