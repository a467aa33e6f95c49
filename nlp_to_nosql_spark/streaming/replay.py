"""Bounded replay: run a *real* Structured Streaming query over a finite
event table and return its output as a batch DataFrame.

This is how the streaming operators get oracle-grade correctness checks:
the same events that a SQL oracle aggregates are replayed through a
file-source → streaming-operator → memory-sink query (``availableNow``
trigger), and the emitted rows must match the batch answer exactly.

Flush-sentinel technique for append-mode stateful operators: a stateful
session only emits when *something later* proves it closed.  We append one
far-future sentinel event per user; processing it forces the gap-break
emission of every real trailing session, while the sentinel's own open
session never emits (and is filtered by its start time anyway).  In
production the same role is played by the event-time timeout as the
watermark advances — the sentinel just makes a bounded replay
deterministic instead of depending on micro-batch boundaries.

The replay input is written as a SINGLE parquet file so ``availableNow``
processes it in one micro-batch: within a batch the operator sorts each
user's events, so replay order is deterministic regardless of how the
source shuffled them.  The ``foreachBatch`` replays (CDC upsert sink,
sketch accumulators) instead stage TWO files read one per trigger, so
their fold into persistent state is exercised across a batch boundary.

Every replay runs through :func:`_run_available_now`, which sets
``spark.sql.shuffle.partitions`` for the run by one of two rules:

* 4 — the floor for replays whose work stays in the JVM (native
  stateful operators, stream-stream joins, and the ``foreachBatch``
  folds, which are plain batch merges with no keyed state store);
* ``clamp(cores/2, 4, 16)`` (:func:`_replay_partitions`) — only for the
  ``applyInPandasWithState`` replays, whose per-key Python dispatch
  parallelizes across state partitions.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import threading

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from nlp_to_nosql_spark.functions.time import epoch_us
from nlp_to_nosql_spark.operators.sessions import sessionize_stream
from nlp_to_nosql_spark.streaming.history import windowed_event_counts

#: Sentinel offset: far beyond any real session gap.
_SENTINEL_DAYS = 30


def _as_event_time(col: str = "ts"):
    """Structured Streaming watermarks accept only TIMESTAMP (LTZ) — they
    reject the catalog's canonical TIMESTAMP_NTZ outright
    (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE, verified on PySpark 4.1.2).
    Every replay therefore casts the event-time column to LTZ at the
    staging boundary; with the session zone pinned to UTC the wall-clock
    values are unchanged, so streaming output stays oracle-comparable."""
    return F.col(col).cast("timestamp").alias(col)


def _work_dir(tag: str) -> str:
    """Per-PROCESS-unique staging directory for a replay's parquet
    shards / checkpoints.  The pid suffix isolates concurrent runs (two
    selfcheck/bench processes at the same SF previously shared a fixed
    per-tag path and could clobber each other's staging between the
    batch write and the stream replay — silently wrong results, the r13
    advice item)."""
    return os.path.join(
        tempfile.gettempdir(), f"spark_graft_replay_{os.getpid()}_{tag}"
    )


def _replay_partitions(spark: SparkSession) -> int:
    """State/shuffle partition count for the ``applyInPandasWithState``
    replays — scale-adaptive: ``clamp(cores/2, 4, 16)``.

    Stateful streaming pays two opposing per-micro-batch costs: the
    per-KEY Python dispatch of ``applyInPandasWithState`` (parallelizes
    across state partitions, bounded by cores) and the per-PARTITION
    state-store commit (serial overhead that grows with the partition
    count).  Measured at sf0.1 (1 500 keys, warm): the CDC replay runs
    5.7 s at 2 partitions, 4.6 at 4, 3.1 at 8, 2.8 at 16; the sessionize
    replay 3.5 at 4, 3.0 at 8, 2.8 at 16 — dispatch parallelism
    dominates up to ~cores/2, and past 16 the extra commits buy nothing
    on replays this size (an earlier round measured 32 partitions 3×
    SLOWER than 8 on the same replay).  Replays with no per-key Python
    dispatch keep :func:`_run_available_now`'s floor of 4.
    """
    return max(4, min(16, spark.sparkContext.defaultParallelism // 2))


#: Serializes the shuffle-partition conf swap below: the conf is
#: session-global, so two overlapping replays (or a concurrent batch
#: query) could otherwise plan under the wrong value or restore a stale
#: "previous" one.
_REPLAY_CONF_LOCK = threading.Lock()


def _run_available_now(
    spark: SparkSession, writer: DataStreamWriter, partitions: int = 4
) -> None:
    """Run ``writer`` to completion under an ``availableNow`` trigger
    with ``spark.sql.shuffle.partitions`` set to ``partitions`` for the
    run.  The default 4 is the measured floor for JVM-side replays: the
    stream-stream join is stable at 4 and degrades badly past it (5-36 s
    at 16 on sf0.1 — per-partition store init/commit × 2 stores).  A
    failure inside the query (e.g. a ``foreachBatch`` fold raising)
    surfaces from ``awaitTermination`` with the conf restored and the
    lock released."""
    with _REPLAY_CONF_LOCK:
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
        try:
            writer.trigger(availableNow=True).start().awaitTermination()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)


def _run_to_memory(
    stream_df: DataFrame,
    name: str,
    output_mode: str,
    partitions: int = 4,
) -> None:
    _run_available_now(
        stream_df.sparkSession,
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode),
        partitions,
    )


def _run_folded(
    spark: SparkSession, src: DataFrame, schema: str, tag: str, fold
) -> str:
    """Replay ``src`` as TWO micro-batches through ``foreachBatch``:
    stage it as two parquet files read one per trigger, clear the
    checkpoint and the output directory, and call ``fold(table, batch,
    batch_id)`` per micro-batch.  Returns the output directory
    ``table`` the folds maintain."""
    in_path = _work_dir(f"{tag}_in")
    src.repartition(2).write.mode("overwrite").parquet(in_path)
    table = _work_dir(f"{tag}_table")
    ckpt = _work_dir(f"{tag}_ckpt")
    shutil.rmtree(table, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_path)
    )
    _run_available_now(
        spark,
        stream.writeStream.foreachBatch(
            lambda batch, batch_id: fold(table, batch, batch_id)
        ).option("checkpointLocation", ckpt),
    )
    return table


def _merge_into(spark: SparkSession, table: str, schema, merge) -> None:
    """One fold step into a persistent parquet table: recover any
    crash-parked state, write ``merge(cur)`` (``cur`` = the current table
    read with ``schema``, or None before the first batch) to ``_next``,
    then promote it with a crash-safe directory swap.

    Crash RECOVERY first: a crash between the two ``os.replace`` calls in
    the swap leaves the live state parked at ``_old`` with no table dir.
    Restore it before reading — otherwise a checkpoint retry would merge
    from the batch alone and the swap's first ``rmtree(old)`` would
    delete the sole copy of prior state (round-6 advice).

    Swap order: move the live table ASIDE, promote the new one, drop the
    old.  A crash leaves the state recoverable on disk at either
    ``table`` or ``_old`` — the table path itself is briefly absent
    between the two renames, which is exactly the window the recovery
    block closes.  (rmtree-then-replace had a true loss window:
    checkpoint replay would rebuild from a single micro-batch and
    silently drop earlier keys.)  Every merge this module passes is
    idempotent, so ``foreachBatch``'s at-least-once re-delivery of a
    batch is absorbed.
    """
    old = table + "_old"
    if not os.path.isdir(table) and os.path.isdir(old):
        os.replace(old, table)
    cur = (
        spark.read.schema(schema).parquet(table)
        if os.path.isdir(table)
        else None
    )
    nxt = table + "_next"
    merge(cur).write.mode("overwrite").parquet(nxt)
    shutil.rmtree(old, ignore_errors=True)
    if os.path.isdir(table):
        os.replace(table, old)
    os.replace(nxt, table)
    shutil.rmtree(old, ignore_errors=True)


def _sentinels(src: DataFrame, max_ts) -> DataFrame:
    """One far-future flush sentinel per user, shaped like ``src``
    (event_id=-1, value=0.0) — shared by both sessionize replays so the
    two harnesses can't drift apart."""
    return (
        src.select("user_id")
        .distinct()
        .select(
            F.lit(-1).cast("long").alias("event_id"),
            F.col("user_id"),
            (F.lit(max_ts) + F.expr(f"INTERVAL {_SENTINEL_DAYS} DAYS")).alias("ts"),
            F.lit(0.0).alias("value"),
        )
    )


def replay_sessionize(
    spark: SparkSession,
    events: DataFrame,
    gap_minutes: int = 30,
    tag: str = "sess",
) -> DataFrame:
    """Streaming sessionization of a bounded event table.

    Returns batch-parity columns ``(user_id, session_idx, session_start,
    session_end, n_events, sum_value)`` — directly comparable to the
    batch :func:`~nlp_to_nosql_spark.operators.sessions.sessionize` /
    its SQL oracle.
    """
    src = events.select("event_id", "user_id", _as_event_time("ts"), "value")
    max_ts = src.agg(F.max("ts")).first()[0]

    path = _work_dir(f"{tag}_sessionize")
    src.unionByName(_sentinels(src, max_ts)).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)

    stream = spark.readStream.schema(
        "event_id long, user_id long, ts timestamp, value double"
    ).parquet(path)
    name = f"replay_{tag}_sessions"
    _run_to_memory(
        sessionize_stream(stream, gap_minutes=gap_minutes, watermark="0 seconds"),
        name,
        "append",
        _replay_partitions(spark),
    )

    out = spark.table(name).filter(F.col("session_start") <= F.lit(max_ts))
    # Batch-parity session_idx: sessions of one user have strictly
    # increasing starts, so their rank by start time equals the batch
    # operator's cumulative numbering.
    w = Window.partitionBy("user_id").orderBy("session_start")
    return out.select(
        "user_id",
        F.row_number().over(w).cast("long").alias("session_idx"),
        "session_start",
        "session_end",
        "n_events",
        F.round("sum_value", 2).alias("sum_value"),
    )


def replay_native_session_window(
    spark: SparkSession,
    events: DataFrame,
    gap_minutes: int = 30,
    tag: str = "nsw",
) -> DataFrame:
    """Streaming sessionization via Spark's NATIVE ``session_window``
    aggregate — the built-in stateful operator, vs ``replay_sessionize``'s
    custom ``applyInPandasWithState`` form.  Two-micro-batch replay: real
    events first (advancing the watermark to their max), then one
    far-future sentinel per user; append-mode sessions emit once the
    watermark passes their window end, and the final no-data batch
    flushes everything the sentinels closed.  Sentinel sessions themselves
    never close (their end keeps leading the watermark) and are filtered
    by start time regardless.  Returns ``(user_id, session_start,
    session_end_gap, n_events, sum_value)`` — batch ``session_window``
    parity, so the sess2 oracle applies verbatim.
    """
    src = events.select("event_id", "user_id", _as_event_time("ts"), "value")
    max_ts = src.agg(F.max("ts")).first()[0]
    path = _work_dir(f"{tag}_native_sessions")
    src.coalesce(1).write.mode("overwrite").parquet(path)
    before = set(os.listdir(path))
    _sentinels(src, max_ts).coalesce(1).write.mode("append").parquet(path)
    # FileStreamSource orders batches by file modification time; the real
    # events MUST land in an earlier batch than the sentinels or the
    # sentinel batch's watermark drops every real event as late.  The two
    # sequential writes can tie at millisecond resolution, so the
    # ordering is made explicit rather than left to the clock.
    real_mtimes = [
        os.path.getmtime(os.path.join(path, f))
        for f in before
        if f.endswith(".parquet")
    ]
    bump = max(real_mtimes) + 2.0
    for f in set(os.listdir(path)) - before:
        if f.endswith(".parquet"):
            os.utime(os.path.join(path, f), (bump, bump))

    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, ts timestamp, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    rolled = (
        stream.withWatermark("ts", "0 seconds")
        .groupBy("user_id", F.session_window("ts", f"{gap_minutes} minutes"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )
    name = f"replay_{tag}_native_sessions"
    _run_to_memory(rolled, name, "append")
    return (
        spark.table(name)
        .filter(F.col("session_window.start") <= F.lit(max_ts))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end_gap"),
            "n_events",
            "sum_value",
        )
    )


def replay_windowed_counts(
    spark: SparkSession,
    events: DataFrame,
    window: str = "1 hour",
    tag: str = "win",
) -> DataFrame:
    """Streaming watermarked tumbling-window rollup of a bounded event
    table (complete output mode: every window is in the final result)."""
    src = events.select("event_id", _as_event_time("ts"), "event_type", "value")
    path = _work_dir(f"{tag}_windowed")
    src.coalesce(1).write.mode("overwrite").parquet(path)

    stream = spark.readStream.schema(
        "event_id long, ts timestamp, event_type string, value double"
    ).parquet(path)
    name = f"replay_{tag}_windows"
    _run_to_memory(windowed_event_counts(stream, window=window), name, "complete")
    return spark.table(name)


def replay_dedup_distinct(
    spark: SparkSession,
    documents: DataFrame,
    tag: str = "dedup",
) -> DataFrame:
    """Streaming stateful exact-dedup of a bounded document table.

    ``dropDuplicates`` on the content fingerprint keeps one state entry
    per distinct key (O(distinct), the streaming-dedup scale shape) and
    emits only first arrivals; projecting to the fingerprint makes the
    output a deterministic SET — exactly ``SELECT DISTINCT fp`` in batch,
    which is the oracle.
    """
    from nlp_to_nosql_spark.functions.text import fingerprint

    src = documents.select(
        F.col("doc_id"), fingerprint(F.col("text")).alias("fp")
    )
    path = _work_dir(f"{tag}_dedup")
    src.coalesce(1).write.mode("overwrite").parquet(path)

    stream = spark.readStream.schema("doc_id long, fp string").parquet(path)
    name = f"replay_{tag}_distinct"
    _run_to_memory(stream.dropDuplicates(["fp"]).select("fp"), name, "append")
    return spark.table(name)


def replay_dim_join(
    spark: SparkSession,
    events: DataFrame,
    dim: DataFrame,
    window: str = "1 hour",
    tag: str = "dim",
) -> DataFrame:
    """Stream-static join: an event stream enriched with a broadcastable
    dimension table, then a watermarked tumbling-window rollup per
    dimension attribute (complete mode).  The static side is joined
    micro-batch-side with no stream state — the standard enrichment shape
    for dimension tables that fit in executor memory.
    """
    src = events.select("event_id", "user_id", _as_event_time("ts"), "value")
    path = _work_dir(f"{tag}_dimjoin")
    src.coalesce(1).write.mode("overwrite").parquet(path)

    static = dim.select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment")
    )

    stream = spark.readStream.schema(
        "event_id long, user_id long, ts timestamp, value double"
    ).parquet(path)
    enriched = stream.join(F.broadcast(static), "user_id")
    rolled = (
        enriched.withWatermark("ts", "1 hour")
        .groupBy(
            F.window("ts", window).alias("w"), F.col("c_mktsegment")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "c_mktsegment",
            "n_events",
            "sum_value",
        )
    )
    name = f"replay_{tag}_dimjoin"
    _run_to_memory(rolled, name, "complete")
    return spark.table(name)


def replay_latest_state(
    spark: SparkSession,
    events: DataFrame,
    tag: str = "cdc",
    keys: tuple = ("user_id",),
) -> DataFrame:
    """Streaming CDC compaction replay: the keyed-state latest-wins view
    (``totals.latest_state_stream``) over a bounded changelog staged as
    TWO micro-batches — the final per-key state must equal the batch
    ``changelog.latest_wins`` / row_number oracle, proving the streaming
    materialized view converges to the batch merge.  Returns
    ``(user_id, event_type, event_id, value)``; the winning timestamp
    is compared as int64 ticks inside the operator and never surfaced,
    so the result is zone-free.
    """
    from nlp_to_nosql_spark.streaming.totals import (
        _LATEST_KEY_TYPES,
        latest_state_stream,
    )

    # Stage ONLY the columns this key subset needs: the staged parquet
    # is read once per micro-batch and shuffled to the state partitions,
    # so an unused string column is paid for twice.
    ddl = {"user_id": "user_id long", "event_type": "event_type string"}
    cols = list(keys) + ["ts", "event_id", "value"]
    src = events.select(
        *[c if c != "ts" else _as_event_time("ts") for c in cols]
    )
    path = _work_dir(f"{tag}_latest")
    src.repartition(2).write.mode("overwrite").parquet(path)

    schema = ", ".join(
        [ddl[k] for k in keys] + ["ts timestamp", "event_id long", "value double"]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    name = f"replay_{tag}_latest"
    _run_to_memory(
        latest_state_stream(stream, keys=keys), name, "update",
        _replay_partitions(spark),
    )

    out = spark.table(name)
    w = Window.partitionBy(*keys).orderBy(
        F.desc("ts_us"), F.desc("event_id")
    )
    return (
        out.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(*keys, "event_id", "value")
    )


def _compact_upsert(spark: SparkSession, table: str, batch: DataFrame) -> None:
    """One CDC compaction step: merge the batch into the compacted table
    under latest-wins, via :func:`_merge_into`'s crash-safe swap."""
    from nlp_to_nosql_spark.operators.changelog import latest_wins

    _merge_into(
        spark,
        table,
        batch.schema,
        lambda cur: latest_wins(
            batch if cur is None else cur.unionByName(batch),
            ["user_id", "event_type"],
            ["ts", "event_id"],
            ["value"],
        ),
    )


def replay_cdc_upsert_sink(
    spark: SparkSession,
    events: DataFrame,
    tag: str = "cdcsink",
) -> DataFrame:
    """The WRITE side of streaming CDC: ``foreachBatch`` maintains a
    compacted parquet table (read-current ∪ batch → latest-wins →
    crash-safe directory swap) — the upsert-into-a-lake pattern engines
    without a transactional table format run per micro-batch.  Spark's
    ``foreachBatch`` gives at-least-once per batch via the checkpoint
    (re-delivery is absorbed because latest-wins merge is idempotent);
    the swap (write to ``_next``, move current aside, promote, drop
    old) keeps readers from seeing a half-written table and never
    leaves a window with NO table — the poor-man's commit protocol a
    real deployment replaces with Delta/Iceberg MERGE, which is what
    upgrades this to transactional exactly-once.

    Replayed over two micro-batches; returns the final compacted table
    ``(user_id, event_type, event_id, value)`` — same oracle as the
    state-store formulation (``replay_latest_state``), proving the two
    CDC implementations (keyed state vs batch-merge sink) agree.
    """
    # TIMESTAMP_NTZ round-trips through the staged parquet unchanged; no
    # watermark is involved, so no LTZ cast is needed on this path.
    table = _run_folded(
        spark,
        events.select("user_id", "event_type", "ts", "event_id", "value"),
        "user_id long, event_type string, ts timestamp_ntz, "
        "event_id long, value double",
        tag,
        lambda table, batch, _batch_id: _compact_upsert(spark, table, batch),
    )
    return spark.read.parquet(table).select(
        "user_id", "event_type", "event_id", "value"
    )


def replay_running_totals(
    spark: SparkSession,
    events: DataFrame,
    tag: str = "totals",
) -> DataFrame:
    """Streaming per-user running totals (custom keyed-state accumulator,
    ``applyInPandasWithState``) over a bounded event table, replayed as
    TWO micro-batches so the final emission per user proves the state
    carried across batch boundaries.  Returns the last update per user:
    ``(user_id, n_events, value_cents)`` — the batch oracle is a plain
    GROUP BY over the same events.
    """
    from nlp_to_nosql_spark.streaming.totals import running_totals_stream

    src = events.select("user_id", "value")
    path = _work_dir(f"{tag}_running")
    # Two files + maxFilesPerTrigger=1 → two micro-batches under
    # availableNow; roughly half of each user's events land in each.
    src.repartition(2).write.mode("overwrite").parquet(path)

    stream = (
        spark.readStream.schema("user_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )

    name = f"replay_{tag}_running"
    _run_to_memory(
        running_totals_stream(stream), name, "update", _replay_partitions(spark)
    )

    # Update-mode sink holds one row per (user, batch-they-appeared-in);
    # n_events strictly increases per user, so rank 1 by n_events desc is
    # the post-replay cumulative total.
    out = spark.table(name)
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        out.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select("user_id", "n_events", "value_cents")
    )


def replay_click_purchase_join(
    spark: SparkSession,
    events: DataFrame,
    window_minutes: int = 60,
    tag: str = "ss",
) -> DataFrame:
    """Watermarked STREAM-STREAM inner join of a bounded event table:
    clicks joined to same-user purchases within ``window_minutes`` after
    the click.  Both sides are real file-source streams over the same
    staged parquet; the time-range condition bounds each side's join
    state, which is what lets the operator run unbounded in production
    (state eviction follows the watermark + range, not table size).
    Returns ``(click_id, purchase_id, user_id, gap_us)`` — the batch
    oracle is the equivalent self-join.
    """
    # Stage only the two joined event kinds: in production the kind
    # filter would live in the upstream topic/partition routing; here it
    # keeps the replayed stream volume at the join's actual input size.
    src = events.filter(
        F.col("event_type").isin("click", "purchase")
    ).select("event_id", "user_id", _as_event_time("ts"), "event_type")
    path = _work_dir(f"{tag}_ssjoin")
    src.coalesce(1).write.mode("overwrite").parquet(path)

    schema = "event_id long, user_id long, ts timestamp, event_type string"

    def side(kind: str, id_alias: str, ts_alias: str) -> DataFrame:
        return (
            spark.readStream.schema(schema)
            .parquet(path)
            .filter(F.col("event_type") == kind)
            .select(
                F.col("event_id").alias(id_alias),
                F.col("user_id").alias(f"{id_alias}_user"),
                F.col("ts").alias(ts_alias),
            )
            .withWatermark(ts_alias, "0 seconds")
        )

    clicks = side("click", "click_id", "click_ts")
    purchases = side("purchase", "purchase_id", "purchase_ts")
    joined = clicks.join(
        purchases,
        (F.col("click_id_user") == F.col("purchase_id_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {window_minutes} MINUTES")
        ),
        "inner",
    ).select(
        "click_id",
        "purchase_id",
        F.col("click_id_user").alias("user_id"),
        (
            epoch_us(F.col("purchase_ts")) - epoch_us(F.col("click_ts"))
        ).cast("long").alias("gap_us"),
    )

    name = f"replay_{tag}_ssjoin"
    _run_to_memory(joined, name, "append")
    return spark.table(name)


def replay_dedup_within_watermark(
    spark: SparkSession,
    events: DataFrame,
    delay: str = "1 hour",
    tag: str = "wmdedup",
) -> DataFrame:
    """Streaming dedup with BOUNDED state retention:
    ``dropDuplicatesWithinWatermark`` keeps a key's state only until the
    watermark passes its event time + delay, so state is O(keys per
    window) instead of stream4's O(all distinct keys ever) — the form an
    unbounded production stream needs.  Projected to the key columns the
    bounded replay emits exactly the distinct (user, event_type) set,
    which is the SQL oracle (which physical row survives per key depends
    on batch order, so only the key is deterministic).
    """
    src = events.select("user_id", "event_type", _as_event_time("ts"))
    path = _work_dir(f"{tag}_wmdedup")
    src.coalesce(1).write.mode("overwrite").parquet(path)

    stream = (
        spark.readStream.schema("user_id long, event_type string, ts timestamp")
        .parquet(path)
        .withWatermark("ts", delay)
    )
    name = f"replay_{tag}_wmdedup"
    _run_to_memory(
        stream.dropDuplicatesWithinWatermark(["user_id", "event_type"]).select(
            "user_id", "event_type"
        ),
        name,
        "append",
    )
    return spark.table(name)


def replay_incremental_admission(
    spark: SparkSession,
    documents: DataFrame,
    corpus_pred=None,
    tag: str = "admit",
) -> DataFrame:
    """Streaming ingest-admission gate: a NEW document stream admitted
    against the STATIC accepted corpus — the streaming twin of
    dedup13's batch admission (``dedup.incremental_new_docs``), i.e.
    the gate a continuously-ingesting corpus runs on every arriving
    crawl shard.

    The corpus splits by ``corpus_pred`` (default ``doc_id % 5 != 0``;
    the rest is the stream).  Per micro-batch: streaming
    ``dropDuplicates`` on the content fingerprint (first arrival wins
    WITHIN the stream — stream4's state shape, O(distinct keys)), then
    a stream-static LEFT ANTI join against the corpus fingerprint set
    (supported stream-static join type; the static side is
    micro-batch-side, no stream state).  Projected to the fingerprint
    the bounded replay emits exactly the SET of admitted fingerprints —
    ``batch-distinct-fps ANTI corpus-fps`` in batch SQL, which is the
    oracle.  At scale the static side is the Bloom-backed admission
    filter (dedup13); the exact anti join here keeps the replay
    value-level-checkable.
    """
    from nlp_to_nosql_spark.functions.text import fingerprint

    if corpus_pred is None:
        corpus_pred = F.col("doc_id") % 5 != 0
    corpus_fps = (
        documents.filter(corpus_pred)
        .select(fingerprint(F.col("text")).alias("fp"))
        .distinct()
    )
    batch = documents.filter(~corpus_pred).select(
        F.col("doc_id"), fingerprint(F.col("text")).alias("fp")
    )
    path = _work_dir(f"{tag}_admission")
    batch.coalesce(1).write.mode("overwrite").parquet(path)

    stream = spark.readStream.schema("doc_id long, fp string").parquet(path)
    admitted = stream.dropDuplicates(["fp"]).join(
        corpus_fps, "fp", "left_anti"
    )
    name = f"replay_{tag}_admission"
    _run_to_memory(admitted.select("fp"), name, "append")
    return spark.table(name)


def replay_paragraph_admission(
    spark: SparkSession,
    documents: DataFrame,
    corpus_pred=None,
    sep: str = "\n",
    tag: str = "para",
) -> DataFrame:
    """Streaming PARAGRAPH-census admission: arriving documents'
    paragraphs admitted against the static corpus's paragraph census —
    dedup19 (CCNet stage 1) as a continuously-maintained stream, and
    the paragraph-grain twin of :func:`replay_incremental_admission`'s
    document gate.  This is how a continuously-ingesting pipeline
    keeps paragraph-level dedup current without re-censusing the
    corpus per shard.

    The corpus splits by ``corpus_pred`` (default ``doc_id % 5 != 0``;
    the rest is the stream).  Per micro-batch: the streaming shard
    explodes into non-blank paragraphs SCAN-SIDE (a stateless
    generator — streaming-safe), streaming ``dropDuplicates`` on the
    normalized-paragraph fingerprint keeps the first arrival within
    the stream (state = one row per distinct arriving paragraph, the
    dedup19 census key — 16 bytes, never paragraph text), then a
    stream-static LEFT ANTI join drops anything the corpus census
    already holds.  The bounded replay emits exactly the SET of
    admitted paragraph fingerprints — batch-distinct-paragraph-fps
    ANTI corpus-paragraph-fps in SQL, which is the oracle.  At scale
    the static side is the Bloom-backed admission filter (dedup13's
    contract); the exact anti join keeps the replay value-checkable.
    """
    import re as _re

    from nlp_to_nosql_spark.functions.text import (
        fingerprint,
        normalize_text,
    )

    if corpus_pred is None:
        corpus_pred = F.col("doc_id") % 5 != 0
    split_pat = _re.escape(sep)

    def paras(df: DataFrame) -> DataFrame:
        p = df.select(
            F.col("doc_id"),
            F.explode(F.split(F.col("text"), split_pat)).alias("_para"),
        )
        return p.filter(normalize_text(F.col("_para")) != "").select(
            F.col("doc_id"), fingerprint(F.col("_para")).alias("fp")
        )

    corpus_fps = paras(documents.filter(corpus_pred)).select("fp").distinct()
    batch = documents.filter(~corpus_pred).select("doc_id", "text")
    path = _work_dir(f"{tag}_para_admission")
    batch.coalesce(1).write.mode("overwrite").parquet(path)

    stream = spark.readStream.schema("doc_id long, text string").parquet(
        path
    )
    admitted = (
        paras(stream)
        .dropDuplicates(["fp"])
        .join(corpus_fps, "fp", "left_anti")
    )
    name = f"replay_{tag}_para_admission"
    _run_to_memory(admitted.select("fp"), name, "append")
    return spark.table(name)


def _fold_registers(
    spark: SparkSession,
    table: str,
    batch: DataFrame,
    key_cols: tuple = (),
    m: int = 64,
) -> None:
    """One HLL fold step: MAX-merge the batch's register table — one
    sketch per ``key_cols`` value when keys are given, else one global
    sketch — into the persistent one via :func:`_merge_into`.  MAX merge
    is idempotent, so foreachBatch re-delivery is a no-op (pinned by
    test)."""
    from nlp_to_nosql_spark.operators.sketch import (
        hll_registers,
        hll_registers_by,
        tokens_by,
    )

    keys = list(key_cols)
    regs = (
        hll_registers_by(tokens_by(batch, keys, "text"), keys, "tok", m=m)
        if keys
        else hll_registers(batch, "text", m=m)
    )
    schema = ", ".join([f"{k} string" for k in keys] + ["reg int", "max_rho int"])

    def merge(cur: DataFrame | None) -> DataFrame:
        if cur is None:
            return regs
        return (
            cur.unionByName(regs)
            .groupBy(*keys, "reg")
            .agg(F.max("max_rho").alias("max_rho"))
        )

    _merge_into(spark, table, schema, merge)


def _fold_kmv(
    spark: SparkSession,
    table: str,
    batch: DataFrame,
    key_col: str,
    k: int = 64,
) -> None:
    """One KMV fold step: union the batch's distinct ``(key_col, h)``
    token hashes into the persistent bottom-k table and keep the ``k``
    smallest per key, via :func:`_merge_into`.  Idempotent: a
    re-delivered batch only unions in hashes already present or already
    above the k-th."""
    from nlp_to_nosql_spark.operators.dedup import md5_hash60
    from nlp_to_nosql_spark.operators.sketch import tokens_by

    rows = tokens_by(batch, [key_col], "text").select(
        key_col, md5_hash60(F.col("tok")).alias("h")
    )

    def merge(cur: DataFrame | None) -> DataFrame:
        hashes = (rows if cur is None else cur.unionByName(rows)).groupBy(
            key_col, "h"
        ).agg(F.lit(1))
        w = Window.partitionBy(key_col).orderBy("h")
        return (
            hashes.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .select(key_col, "h")
        )

    _merge_into(spark, table, f"{key_col} string, h long", merge)


def _fold_cms(
    parts: str, batch: DataFrame, batch_id: int, depth: int = 4, width: int = 1024
) -> None:
    """One CMS fold step: write the batch's partial sketch to its OWN
    ``batch_id=N`` directory — overwrite there is retry-idempotent."""
    from nlp_to_nosql_spark.operators.sketch import cms_cells

    cms_cells(batch, "text", depth=depth, width=width).write.mode(
        "overwrite"
    ).parquet(os.path.join(parts, f"batch_id={batch_id}"))


def replay_hll_by_accumulate(
    spark: SparkSession,
    docs: DataFrame,
    key_col: str = "lang",
    tag: str = "hllbyacc",
    m: int = 64,
) -> DataFrame:
    """Keyed :func:`replay_hll_accumulate`: one persistent HLL register
    table PER ``key_col`` VALUE, folded by the same idempotent
    element-wise MAX — the live per-domain vocabulary monitor
    (``sketch3``'s streaming twin).  State is ≤ m rows per active key
    regardless of corpus size; the accumulated table after any batch
    split equals the batch grouped sketch over the whole corpus
    (test-pinned), so the final NDV projection shares ``sketch3``'s
    oracle verbatim."""
    table = _run_folded(
        spark,
        docs.select("doc_id", key_col, "text"),
        f"doc_id long, {key_col} string, text string",
        tag,
        lambda table, batch, _batch_id: _fold_registers(
            spark, table, batch, (key_col,), m=m
        ),
    )
    return spark.read.parquet(table).select(key_col, "reg", "max_rho")


def replay_hll_accumulate(
    spark: SparkSession,
    docs: DataFrame,
    tag: str = "hllacc",
    m: int = 64,
) -> DataFrame:
    """Streaming vocabulary-NDV monitor: fold each arriving document
    micro-batch into a persistent HyperLogLog register table via
    ``foreachBatch`` element-wise MAX merge — the live proof of the
    sketch-mergeability claim (operators/sketch.py): because registers
    merge associatively and idempotently by MAX, the accumulated table
    after ANY batch split equals the batch sketch over the whole corpus,
    and ``foreachBatch``'s at-least-once re-delivery is absorbed for
    free (re-merging a batch is a no-op under MAX).

    State is ``m`` int rows regardless of corpus size — the sketch never
    grows, so this runs forever on an unbounded crawl stream where the
    exact-distinct formulation (``dropDuplicates`` keyed state) grows
    O(vocabulary).  The table promote is :func:`_merge_into`'s crash-safe
    move-aside swap (recovery first, never a moment with both copies
    gone).

    Replayed over two micro-batches; returns the final ``(reg,
    max_rho)`` table — oracle shared verbatim with the batch
    ``sketch1_hll_registers`` query.
    """
    table = _run_folded(
        spark,
        docs.select("doc_id", "text"),
        "doc_id long, text string",
        tag,
        lambda table, batch, _batch_id: _fold_registers(spark, table, batch, m=m),
    )
    return spark.read.parquet(table).select("reg", "max_rho")


def replay_kmv_accumulate(
    spark: SparkSession,
    docs: DataFrame,
    tag: str = "kmvacc",
    key_col: str = "lang",
    k: int = 64,
) -> DataFrame:
    """Streaming per-key KMV accumulation — the bottom-k twin of
    :func:`replay_hll_accumulate`: fold each arriving micro-batch's
    distinct token hashes into a persistent ``(key, h)`` bottom-k table
    via union + re-rank (:func:`_fold_kmv`).  Like the HLL MAX merge (and
    unlike CMS SUM), the bottom-k merge is IDEMPOTENT — re-delivering a
    batch unions in hashes that are already present (or already above
    the k-th), so foreachBatch's at-least-once semantics are absorbed
    for free and no batch-id keyed partials are needed.

    State is ≤ ``|keys| · k`` int rows regardless of corpus size.  The
    final table reassembles through the SAME
    :func:`~nlp_to_nosql_spark.operators.sketch.kmv_assemble` back half
    the batch operator uses, so the stream result equals the batch
    sketch BY CONSTRUCTION and shares its DuckDB oracle verbatim
    (``kmv_by_sql``).
    """
    from nlp_to_nosql_spark.operators.sketch import kmv_assemble

    table = _run_folded(
        spark,
        docs.select("doc_id", key_col, "text"),
        f"doc_id long, {key_col} string, text string",
        tag,
        lambda table, batch, _batch_id: _fold_kmv(spark, table, batch, key_col, k),
    )
    final = spark.read.schema(f"{key_col} string, h long").parquet(table)
    return kmv_assemble(final, [key_col], k)


def replay_cms_accumulate(
    spark: SparkSession,
    docs: DataFrame,
    tag: str = "cmsacc",
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Streaming count-min accumulation — the ADDITIVE-merge twin of
    :func:`replay_hll_accumulate`, demonstrating the sink discipline
    additivity forces: unlike MAX (idempotent — re-merging a redelivered
    batch is a no-op), SUM double-counts on foreachBatch's at-least-once
    re-delivery.  Exactly-once is recovered the way transactional lake
    sinks do it: each micro-batch writes its PARTIAL sketch to a
    directory keyed by the checkpoint's ``batch_id``
    (``.../batch_id=N``, mode=overwrite) — a retry of batch N overwrites
    its own partial instead of adding to it — and the read side folds
    the partials with one cell-wise SUM (:func:`_fold_cms`).  (stream11's
    latest-wins merge absorbs re-delivery by idempotence; this absorbs
    it by keying writes on the replayable batch id — the two halves of
    Spark's official foreachBatch exactly-once recipe.)

    State is ≤ depth × width ints per batch directory; compaction of old
    partials into a base sketch is the same SUM, left to the caller.
    Returns the folded ``(row, col, cnt)`` table — oracle shared with
    the batch :func:`~nlp_to_nosql_spark.operators.sketch.cms_cells`.
    """
    parts = _run_folded(
        spark,
        docs.select("doc_id", "text"),
        "doc_id long, text string",
        tag,
        lambda parts, batch, batch_id: _fold_cms(
            parts, batch, batch_id, depth, width
        ),
    )
    return (
        spark.read.option("basePath", parts)
        .parquet(parts)
        .groupBy("row", "col")
        .agg(F.sum("cnt").alias("cnt"))
    )

