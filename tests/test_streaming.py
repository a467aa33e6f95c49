"""Streaming: history sink parity + watermarked windowed aggregates driven
through a real Structured Streaming query (file source → memory sink)."""

import datetime
import json

import pytest
from pyspark.sql import functions as F, types as T

from nlp_to_nosql_spark.streaming import (
    append_history,
    history_aggregates,
    windowed_event_counts,
)

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def test_history_append_and_aggregates(spark, tmp_path):
    path = str(tmp_path / "history")
    t0 = datetime.datetime(2024, 1, 1, 10, 0, 0)
    append_history(
        spark,
        [
            {"timestamp": t0, "query": "q1", "db": "d", "collection": "c",
             "success": True, "error": None, "execution_time": 1.5, "result_count": 10},
            {"timestamp": t0, "query": "q2", "db": "d", "collection": "c",
             "success": False, "error": "boom", "execution_time": 0.5, "result_count": None},
        ],
        path,
    )
    append_history(
        spark,
        [{"timestamp": t0, "query": "q3", "db": "d", "collection": "c",
          "success": True, "error": None, "execution_time": 1.0, "result_count": 3}],
        path,
    )
    hist = spark.read.parquet(path)
    assert hist.count() == 3  # appends accumulate (S7)
    agg = history_aggregates(hist).first()
    assert agg["total_queries"] == 3
    assert abs(agg["success_rate_pct"] - 200 / 3) < 1e-3
    assert abs(agg["avg_execution_time"] - 1.0) < 1e-9


def test_windowed_counts_batch(spark):
    rows = [
        (1, datetime.datetime(2024, 1, 1, 10, 5), "click", 1.0),
        (2, datetime.datetime(2024, 1, 1, 10, 55), "click", 2.0),
        (3, datetime.datetime(2024, 1, 1, 11, 5), "view", 3.0),
    ]
    df = spark.createDataFrame(rows, EVENT_SCHEMA)
    out = {
        (r["window_start"].hour, r["event_type"]): r["n_events"]
        for r in windowed_event_counts(df).collect()
    }
    assert out == {(10, "click"): 2, (11, "view"): 1}


def test_streaming_end_to_end(spark, tmp_path):
    src = tmp_path / "stream_in"
    src.mkdir()

    def write_batch(name, events):
        with open(src / name, "w") as f:
            for e in events:
                f.write(json.dumps(e) + "\n")

    write_batch(
        "b1.json",
        [
            {"event_id": 1, "ts": "2024-01-01T10:05:00", "event_type": "click", "value": 1.0},
            {"event_id": 2, "ts": "2024-01-01T10:20:00", "event_type": "click", "value": 2.0},
        ],
    )

    stream = spark.readStream.schema(EVENT_SCHEMA).json(str(src))
    assert stream.isStreaming
    agg = windowed_event_counts(stream, window="1 hour", watermark="10 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        # feed a second micro-batch
        write_batch(
            "b2.json",
            [{"event_id": 3, "ts": "2024-01-01T10:45:00", "event_type": "click", "value": 3.0}],
        )
        q.processAllAvailable()
        rows = spark.sql("select * from win_counts").collect()
        by_key = {(r["window_start"].hour, r["event_type"]): (r["n_events"], r["sum_value"]) for r in rows}
        assert by_key[(10, "click")] == (3, 6.0)
    finally:
        q.stop()


def test_watermark_drops_late_data_across_batches(spark, tmp_path):
    """Append-mode windowed agg with a 1-hour watermark over four
    micro-batches.  Spark finalizes (emits + evicts) a window at the end
    of the first batch whose updated watermark passes the window end, so
    a straggler must arrive one batch LATER to hit the eviction: it is
    then dropped (visible in numRowsDroppedByWatermark) and the finalized
    window is emitted exactly once, without the straggler."""
    import datetime
    import os
    import shutil
    import time

    from nlp_to_nosql_spark.streaming.history import windowed_event_counts

    def ev(event_id, hour, minute):
        return (event_id, datetime.datetime(2024, 1, 1, hour, minute), "click", 1.0)

    schema = "event_id long, ts timestamp, event_type string, value double"
    base = str(tmp_path / "late")
    os.makedirs(base)
    batches = [
        # batch 0: two 10:00-window events + a 20:00 event (watermark → 19:00)
        [ev(1, 10, 0), ev(2, 10, 45), ev(3, 20, 0)],
        # batch 1: runs at watermark 19:00 → finalizes the 10:00 window
        [ev(6, 20, 30)],
        # batch 2: straggler for the evicted 10:00 window + a 22:00 event
        [ev(4, 10, 30), ev(5, 22, 0)],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{base}/tmp{i}"
        )
        time.sleep(1.1)  # distinct mtimes → deterministic file order
    for i in range(len(batches)):
        for f in os.listdir(f"{base}/tmp{i}"):
            if f.endswith(".parquet"):
                os.rename(f"{base}/tmp{i}/{f}", f"{base}/b{i}.parquet")
        shutil.rmtree(f"{base}/tmp{i}")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(base)
    )
    q = (
        windowed_event_counts(stream, window="1 hour", watermark="1 hour")
        .writeStream.format("memory")
        .queryName("late_drop")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    dropped = sum(
        p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        if p["stateOperators"]
    )
    assert dropped == 1  # the straggler

    out = [
        (r["window_start"].hour, r["n_events"])
        for r in spark.table("late_drop").collect()
    ]
    # 10:00 window: emitted exactly once, straggler excluded
    assert out.count((10, 2)) == 1
    assert all(h != 10 or n == 2 for h, n in out)
    # the 22:00 window never finalizes (watermark stops at 21:00)
    assert all(h != 22 for h, _ in out)


def test_running_totals_null_value_is_skipped(spark):
    """A NULL value must contribute 0 cents (SQL SUM semantics) but still
    count as an event — not ValueError the micro-batch."""
    from nlp_to_nosql_spark.streaming.totals import _cents

    import pandas as pd

    s = pd.Series([1.25, None, 2.5], dtype="float64")
    assert _cents(s) == 125 + 250


def test_latest_state_stream_equals_batch_merge(spark):
    """Streaming CDC compaction == batch latest_wins after a 2-batch
    replay (state carries the winner across micro-batch boundaries)."""
    import datetime as dt

    from nlp_to_nosql_spark.operators.changelog import latest_wins
    from nlp_to_nosql_spark.streaming.replay import replay_latest_state

    rows = [
        (1, dt.datetime(2024, 1, 1, 10), 7, "click", 1.0),
        (2, dt.datetime(2024, 1, 1, 12), 7, "click", 2.0),  # winner
        (3, dt.datetime(2024, 1, 1, 12), 7, "view", 3.0),
        (4, dt.datetime(2024, 1, 1, 9), 8, "click", 4.0),
        (5, dt.datetime(2024, 1, 1, 9), 8, "click", 5.0),  # id tiebreak
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double",
    )
    got = {
        (r["user_id"], r["event_type"]): (r["event_id"], r["value"])
        for r in replay_latest_state(
            spark, ev, tag="t_cdc", keys=("user_id", "event_type")
        ).collect()
    }
    want = {
        (r["user_id"], r["event_type"]): (r["event_id"], r["value"])
        for r in latest_wins(
            ev, ["user_id", "event_type"], ["ts", "event_id"], ["value"]
        ).collect()
    }
    assert got == want
    assert got[(7, "click")] == (2, 2.0)
    assert got[(8, "click")] == (5, 5.0)
    # single-key view (the cheap default: state cardinality = |users|)
    per_user = {
        r["user_id"]: r["event_id"]
        for r in replay_latest_state(spark, ev, tag="t_cdc1").collect()
    }
    assert per_user == {7: 3, 8: 5}  # u7's latest overall is the view


def test_cdc_upsert_sink_equals_batch_merge(spark):
    """foreachBatch parquet-upsert CDC table == batch latest_wins (and
    therefore == the keyed-state formulation) after a 2-batch replay."""
    import datetime as dt

    from nlp_to_nosql_spark.operators.changelog import latest_wins
    from nlp_to_nosql_spark.streaming.replay import replay_cdc_upsert_sink

    rows = [
        (1, dt.datetime(2024, 1, 1, 10), 7, "click", 1.0),
        (2, dt.datetime(2024, 1, 1, 12), 7, "click", 2.0),
        (3, dt.datetime(2024, 1, 1, 12), 7, "view", 3.0),
        (4, dt.datetime(2024, 1, 1, 9), 8, "click", 4.0),
        (5, dt.datetime(2024, 1, 1, 9), 8, "click", 5.0),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double",
    )
    got = {
        (r["user_id"], r["event_type"]): (r["event_id"], r["value"])
        for r in replay_cdc_upsert_sink(spark, ev, tag="t_cdcsink").collect()
    }
    want = {
        (r["user_id"], r["event_type"]): (r["event_id"], r["value"])
        for r in latest_wins(
            ev, ["user_id", "event_type"], ["ts", "event_id"], ["value"]
        ).collect()
    }
    assert got == want


def test_streaming_admission_equals_batch_anti_join(spark):
    """stream15's bounded replay: the admitted fingerprint set must
    equal the batch DISTINCT-anti-join — within-stream duplicates
    collapse to one admission, corpus-known content never admits."""
    from pyspark.sql import functions as F

    from nlp_to_nosql_spark.functions.text import fingerprint
    from nlp_to_nosql_spark.streaming.replay import (
        replay_incremental_admission,
    )

    docs = spark.createDataFrame(
        [
            (1, "already in the corpus"),
            (2, "also already accepted"),
            (5, "brand new document"),          # admitted
            (10, "already in the corpus"),      # corpus dup -> rejected
            (15, "brand new document"),         # stream dup -> one admission
            (20, "second new document"),        # admitted
        ],
        "doc_id long, text string",
    )
    got = sorted(
        r["fp"]
        for r in replay_incremental_admission(
            spark, docs, tag="admit_test"
        ).collect()
    )
    corpus = docs.filter(F.col("doc_id") % 5 != 0).select(
        fingerprint(F.col("text")).alias("fp")
    )
    want = sorted(
        r["fp"]
        for r in docs.filter(F.col("doc_id") % 5 == 0)
        .select(fingerprint(F.col("text")).alias("fp"))
        .distinct()
        .join(corpus, "fp", "left_anti")
        .collect()
    )
    assert got == want and len(got) == 2


def test_streaming_paragraph_admission_equals_batch_anti_join(spark):
    """stream17's bounded replay: the admitted PARAGRAPH-fingerprint
    set equals the batch distinct-paragraph anti-join — within-stream
    paragraph repeats collapse, corpus-known paragraphs never admit,
    blank paragraphs carry no census key, and normalization-equal
    paragraphs share one fingerprint."""
    from nlp_to_nosql_spark.streaming.replay import (
        replay_paragraph_admission,
    )

    docs = spark.createDataFrame(
        [
            # corpus (doc_id % 5 != 0)
            (1, "known para one\nknown para two"),
            (2, "known para three"),
            # stream (doc_id % 5 == 0)
            (5, "brand new para\nknown para one"),    # 1 admit, 1 reject
            (10, "  Brand  New  Para \nsecond new"),  # norm-dup + 1 admit
            (15, "\n\nknown para three"),             # blanks + reject
        ],
        "doc_id long, text string",
    )
    got = sorted(
        r["fp"]
        for r in replay_paragraph_admission(
            spark, docs, tag="para_test"
        ).collect()
    )
    assert len(got) == 2  # "brand new para" (once) + "second new"
    assert len(set(got)) == 2
