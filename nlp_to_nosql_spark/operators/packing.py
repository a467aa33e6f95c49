"""Token-budget packing: assign ordered documents to training batches.

The standard LLM-data step after cleaning/dedup: walk the corpus in a
deterministic order and cut it into batches of ≈ ``budget`` tokens.  The
batch id of a document is a function of the GLOBAL running token count —
the textbook distributed prefix-sum problem, which a naive
``Window.orderBy(...)`` cumsum would serialize into ONE partition (the
classic global-window scale trap).

Scale shape here (two passes, no global window):

1. range-partition by the order key, per-partition cumulative sums via a
   partition-local window (each partition sorts its own slice);
2. per-partition totals — ONE small row per partition — collect to the
   driver, prefix-sum them there (O(#partitions), the same bounded-driver
   contract as broadcast joins), broadcast the offsets back, and add.

The result is independent of the partition count or boundaries: any
range partitioning of the same order yields identical global cumsums.

Batch rule (documented, mirrored by the SQL oracle): a document belongs
to the batch its FIRST token lands in — ``floor(cumsum_exclusive /
budget)`` — so batches are contiguous and a boundary-straddling document
goes to the earlier batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nlp_to_nosql_spark.plans.localrel import local_df


def pack_by_token_budget(
    df: DataFrame,
    order_col: str,
    tokens_col: str,
    budget: int,
    partitions: int | None = None,
) -> DataFrame:
    """Add ``cum_tokens`` (inclusive global running sum ordered by
    ``order_col``) and ``batch_id`` (``floor((cum_tokens - tokens) /
    budget)``) to ``df``.  ``order_col`` must be unique (it defines the
    pack order).

    ``tokens_col`` is any non-negative per-row count — the contract
    queries feed whitespace token counts (``pack1``) and real BPE
    token counts from a fitted tokenizer
    (``selection.bpe_encode_len`` → ``pipe6``, the train-tokenizer →
    count-tokens → pack pipeline)."""
    if budget <= 0:
        raise ValueError("budget must be positive")
    spark = df.sparkSession
    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism

    # Reject null/negative token counts up front: a NULL would poison the
    # window sum into NULL cum/batch ids, and a negative count breaks the
    # max()-as-partition-total invariant below — both silent corruption.
    checked_tokens = F.when(
        F.col(tokens_col).isNotNull() & (F.col(tokens_col) >= 0),
        F.col(tokens_col).cast("long"),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"pack_by_token_budget: {tokens_col} must be a "
                      "non-negative non-null count, got "),
                F.col(tokens_col).cast("string"),
            )
        ).cast("long")
    )

    ranged = df.repartitionByRange(partitions, F.col(order_col)).withColumn(
        "_pid", F.spark_partition_id()
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # Pin ONE materialization: repartitionByRange samples its boundaries
    # per job execution, so without this the totals job and the output job
    # could disagree on which partition a boundary row belongs to — wrong
    # offsets, and rows silently dropped by the _pid join for pids the
    # first job never produced.  The totals collect below is the
    # materializing action (eager=False costs no extra job).
    local = ranged.withColumn(
        "_local_cum", F.sum(checked_tokens).over(w)
    ).localCheckpoint(eager=False)

    # One row per partition: (pid, partition total).  Driver-side prefix
    # sum over #partitions rows — bounded by construction.
    totals = (
        local.groupBy("_pid").agg(F.max("_local_cum").alias("_total")).collect()
    )
    offsets, acc = {}, 0
    for row in sorted(totals, key=lambda r: r["_pid"]):
        offsets[row["_pid"]] = acc
        acc += row["_total"]
    offset_df = local_df(
        spark, [(pid, off) for pid, off in offsets.items()], "_pid int, _offset long"
    )

    out = (
        local.join(F.broadcast(offset_df), "_pid")
        .withColumn("cum_tokens", F.col("_local_cum") + F.col("_offset"))
        .withColumn(
            "batch_id",
            # integer `div`, not double /: cum_tokens past 2^53 would lose
            # exactness in float division and misassign boundary docs.
            F.expr(
                f"(cum_tokens - cast({tokens_col} as bigint)) div {int(budget)}"
            ).cast("long"),
        )
    )
    return out.select(*df.columns, "cum_tokens", "batch_id")


def batch_manifest(packed: DataFrame, id_col: str, tokens_col: str) -> DataFrame:
    """Per-batch manifest: doc count, token sum, id span — the unit a
    downstream tokenizer/writer consumes."""
    return packed.groupBy("batch_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col(tokens_col).cast("long")).alias("n_tokens"),
        F.min(id_col).alias("first_id"),
        F.max(id_col).alias("last_id"),
    )


def best_fit_pack(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    budget: int,
    partitions: int | None = None,
) -> DataFrame:
    """Straddle-free sequence packing by length-bucketed best-fit-
    decreasing slotting — the pad-waste-aware tier above
    :func:`pack_by_token_budget`.  pack1 cuts the concatenated token
    stream, so a boundary document is SPLIT across two training
    sequences (cross-document attention contamination, zero padding);
    this operator instead assigns every document WHOLLY to one
    ``budget``-token bin and pays bounded padding for it — the
    fixed-shape-batch discipline of the sequence-packing literature
    (Krell et al., arXiv:2107.02027 length-histogram packing; the
    length-bucketed batching of the common seq2seq trainers).

    Deterministic, fully relational scheme:

    * **bucket** ``k = floor(log2(budget div max(n,1)))`` for every
      in-budget document — exact integer log2 via the binary-string
      length (``length(bin(x)) - 1``), never float ``log2`` whose
      last-ulp could flip a bucket between engines; documents with
      ``n > budget`` land in bucket ``-1`` (oversize — one per bin,
      flagged by the bucket, excluded from pad accounting: a
      downstream chunker owns them).
    * **slots per bin** ``s_k = budget div max_len(bucket k)`` over
      the REALIZED bucket maximum — at least ``2^k`` by the bucket
      bound, better when the realized max is smaller;
      ``s_k · max_len ≤ budget`` guarantees every bin fits without
      inspecting combinations.
    * **assignment**: global rank over ``(bucket ASC, n DESC, id
      ASC)`` — the best-fit-DECREASING order — via the same two-pass
      distributed prefix sum as :func:`pack_by_token_budget` (each doc
      counts 1; per-partition totals collected, O(#partitions) driver
      rows), then ``bin_in_bucket = (rank_in_bucket - 1) div s_k`` and
      ``slot = (rank_in_bucket - 1) % s_k``; the flat ``bin_id`` adds
      per-bucket bin offsets (one ≤ ~log2(budget)+2-row aggregate,
      prefix-summed on the driver).

    Returns ``(id, tokens, bucket, bin_slots, bin_id, slot)``.
    Zero-length documents bucket deepest (a slot each, no fill).
    Fill factor: every full bin holds ``s_k`` docs each in
    ``(budget/2^{k+1}, max_len]``, so fill ≥ budget/2 is guaranteed
    and the expected fill is ≈ bucket-avg/bucket-max of the budget —
    ~75 % for lengths uniform within a bucket, better the more the
    distribution skews short (measured: 2.5× less pad than the
    one-doc-per-sequence baseline on a long-tailed fixture, 1.9× on
    the near-uniform synthetic corpus; :func:`pad_stats`).  Closing
    the remaining gap needs cross-bucket mixing (per-bin residual
    state — the histogram-NNLS / FFD schemes), which trades the pure
    two-pass shape for a driver-side histogram solve; not implemented.
    Every driver-side structure is bounded by #partitions or #buckets,
    never corpus size; the corpus-sized exchanges are ONE range
    repartition plus two broadcast joins.  DuckDB twin:
    :func:`best_fit_pack_sql`; pad-fraction measurement:
    :func:`pad_stats`.
    """
    if budget <= 0:
        raise ValueError("budget must be positive")
    spark = df.sparkSession
    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism

    n = F.col(tokens_col).cast("long")
    checked = F.when(n.isNotNull() & (n >= 0), n).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"best_fit_pack: {tokens_col} must be a "
                      "non-negative non-null count, got "),
                F.col(tokens_col).cast("string"),
            )
        ).cast("long")
    )
    in_bucket = (
        F.length(
            F.bin(
                F.expr(
                    f"cast({int(budget)} as bigint) div "
                    f"greatest(cast({tokens_col} as bigint), 1)"
                )
            )
        )
        - F.lit(1)
    ).cast("int")
    bucket = F.when(checked > F.lit(int(budget)), F.lit(-1)).otherwise(
        in_bucket
    )
    toks = df.select(
        F.col(id_col), checked.alias("_n"), bucket.alias("bucket")
    )

    # two-pass global rank over (bucket ASC, n DESC, id ASC); n is
    # negated so every range/sort key is ascending.  localCheckpoint
    # pins ONE materialization for the same boundary-stability reason
    # as pack_by_token_budget.
    ranged = (
        toks.withColumn("_negn", -F.col("_n"))
        .repartitionByRange(
            partitions, F.col("bucket"), F.col("_negn"), F.col(id_col)
        )
        .withColumn("_pid", F.spark_partition_id())
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy("bucket", "_negn", id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = ranged.withColumn(
        "_local_rank", F.sum(F.lit(1)).over(w)
    ).localCheckpoint(eager=False)
    totals = (
        local.groupBy("_pid")
        .agg(F.max("_local_rank").alias("_total"))
        .collect()
    )
    offsets, acc = {}, 0
    for row in sorted(totals, key=lambda r: r["_pid"]):
        offsets[row["_pid"]] = acc
        acc += row["_total"]
    offset_df = local_df(
        spark,
        [(pid, off) for pid, off in offsets.items()],
        "_pid int, _off long",
    )
    ranked = local.join(F.broadcast(offset_df), "_pid").withColumn(
        "_grank", F.col("_local_rank") + F.col("_off")
    )

    # per-bucket stats (≤ ~log2(budget)+2 rows): first global rank,
    # realized max length, count — bin offsets prefix-summed driver-side
    stats = (
        ranked.groupBy("bucket")
        .agg(
            F.min("_grank").alias("_start"),
            F.max("_n").alias("_maxn"),
            F.count(F.lit(1)).alias("_cnt"),
        )
        .collect()
    )
    rows, bin_acc = [], 0
    for r in sorted(stats, key=lambda x: x["bucket"]):
        slots = (
            1
            if r["bucket"] == -1
            else max(1, budget // max(int(r["_maxn"]), 1))
        )
        rows.append((int(r["bucket"]), int(r["_start"]), slots, bin_acc))
        bin_acc += -(-int(r["_cnt"]) // slots)
    bstats = local_df(
        spark, rows, "bucket int, _start long, bin_slots int, _bin_off long"
    )
    return (
        ranked.join(F.broadcast(bstats), "bucket")
        # 0-based rank within the bucket; integer div (never float /:
        # ranks past 2^53 would lose exactness)
        .withColumn("_rk", F.col("_grank") - F.col("_start"))
        .select(
            F.col(id_col),
            F.col("_n").alias(tokens_col),
            F.col("bucket"),
            F.col("bin_slots"),
            (F.col("_bin_off") + F.expr("_rk div bin_slots"))
            .cast("long")
            .alias("bin_id"),
            (F.col("_rk") % F.col("bin_slots")).cast("int").alias("slot"),
        )
    )


def best_fit_pack_sql(
    budget: int,
    tokens_sql: str,
    table: str = "documents",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`best_fit_pack` — same exact-integer
    bucket, realized-max slot counts, (bucket, n DESC, id) ranking,
    and offset arithmetic, expressed with plain windows (fine at
    oracle scale; the Spark side distributes the rank)."""
    return (
        f"WITH bfp_t AS (SELECT {id_col}, "
        f"CAST({tokens_sql} AS BIGINT) AS n FROM {table}), "
        "bfp_b AS (SELECT *, CAST(CASE WHEN n > "
        f"{int(budget)} THEN -1 ELSE "
        f"length(bin({int(budget)} // GREATEST(n, 1))) - 1 END AS INT) "
        "AS bucket FROM bfp_t), "
        "bfp_r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY bucket "
        f"ORDER BY n DESC, {id_col}) - 1 AS rk FROM bfp_b), "
        "bfp_s AS (SELECT bucket, "
        "CAST(CASE WHEN bucket = -1 THEN 1 ELSE "
        f"GREATEST(1, {int(budget)} // GREATEST(MAX(n), 1)) END AS INT) "
        "AS bin_slots, COUNT(*) AS cnt FROM bfp_r GROUP BY bucket), "
        "bfp_o AS (SELECT bucket, bin_slots, "
        "CAST(COALESCE(SUM(CEIL(CAST(cnt AS DOUBLE) / bin_slots)) OVER "
        "(ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND "
        "1 PRECEDING), 0) AS BIGINT) AS bin_off FROM bfp_s) "
        f"SELECT r.{id_col}, r.n AS n_tokens, r.bucket, o.bin_slots, "
        "CAST(o.bin_off + r.rk // o.bin_slots AS BIGINT) AS bin_id, "
        "CAST(r.rk % o.bin_slots AS INT) AS slot "
        "FROM bfp_r r JOIN bfp_o o USING (bucket)"
    )


def pad_stats(
    packed: DataFrame, budget: int, tokens_col: str = "n_tokens"
) -> DataFrame:
    """Pad-waste accounting for a :func:`best_fit_pack` output — ONE
    row: in-budget bins, their token fill, capacity (#bins · budget),
    the integer-micro pad fraction, and the same figure for the
    one-doc-per-sequence baseline (every in-budget doc padded to
    ``budget`` alone — what the packing literature reports against).
    Oversize rows (bucket -1) are excluded from both sides.  Exact
    BIGINT arithmetic end to end."""
    bins = (
        packed.filter(F.col("bucket") >= 0)
        .groupBy("bin_id")
        .agg(
            F.sum(F.col(tokens_col).cast("long")).alias("_fill"),
            F.count(F.lit(1)).cast("long").alias("_docs"),
        )
    )
    b = F.lit(int(budget)).cast("long")
    return bins.agg(
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.coalesce(F.sum("_fill"), F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce(F.sum("_docs"), F.lit(0)).cast("long").alias("n_docs"),
    ).select(
        "n_bins",
        "n_tokens",
        "n_docs",
        (F.col("n_bins") * b).alias("capacity"),
        F.expr(
            f"CASE WHEN n_bins > 0 THEN ((n_bins * {int(budget)} - "
            f"n_tokens) * 1000000) div (n_bins * {int(budget)}) "
            "ELSE 0 END"
        ).cast("long").alias("pad_frac_micro"),
        F.expr(
            f"CASE WHEN n_docs > 0 THEN ((n_docs * {int(budget)} - "
            f"n_tokens) * 1000000) div (n_docs * {int(budget)}) "
            "ELSE 0 END"
        ).cast("long").alias("baseline_pad_frac_micro"),
    )
