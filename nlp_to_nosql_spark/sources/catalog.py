"""Table catalog over parquet directories.

The reference's database/collection namespace (``client[db][coll]``,
``No_Sql.py:389-390``) maps to a directory of parquet tables registered as
temp views.  ``spark.read.parquet`` gives us schema, partition pruning,
predicate pushdown, and metadata counts for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from nlp_to_nosql_spark.sources.mongo import (
    MONGO_DB_CONF,
    MONGO_URI_CONF,
    read_mongo,
)

#: Driver-provided tables (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _ensure_nanos_readable(spark: SparkSession) -> None:
    """Make INT64 TIMESTAMP(NANOS) parquet columns readable on ANY session.

    The testdata's ``events.parquet`` stores ``ts`` as TIMESTAMP(MICROS,
    ``isAdjustedToUTC=false``), which Spark reads natively as
    TIMESTAMP_NTZ.  A TIMESTAMP(NANOS) column, however, Spark rejects by
    default (PARQUET_TYPE_ILLEGAL); the legacy flag surfaces it as a long
    of nanoseconds instead, and ``_normalize`` converts that to a proper
    timestamp.  The flag is runtime-settable, so setting it here
    (not only in our own ``get_spark``) means the catalog works with any
    externally provided session — e.g. the driver's.

    The session timezone is pinned to UTC at the same point: every
    LTZ↔NTZ conversion in the engine (``_normalize``'s canonicalization,
    the streaming replays' event-time staging) reinterprets wall-clocks
    through this zone, and only UTC makes those conversions lossless
    against the naive timestamps the DuckDB oracle reads.
    """
    for key, value in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
    ):
        try:
            spark.conf.set(key, value)
        except Exception:
            # Best effort: if a conf is somehow unsettable, downstream
            # reads raise their own clear AnalysisException.
            pass


def _normalize(df: DataFrame, name: str) -> DataFrame:
    """Normalize physical quirks of a table at load time.

    ``events.ts`` can reach this point as three different types:

    - TIMESTAMP(MICROS, ``isAdjustedToUTC=false``) — what the testdata
      stores — reads **natively as TIMESTAMP_NTZ**;
    - TIMESTAMP(NANOS) reads as a **long of nanos** under
      ``spark.sql.legacy.parquet.nanosAsLong`` (without it, Spark raises
      PARQUET_TYPE_ILLEGAL);
    - a UTC-adjusted timestamp reads as **TIMESTAMP** (with local
      timezone).

    All three converge here on ONE canonical type — ``TIMESTAMP_NTZ``, the
    naive wall-clock stored in the file, which is exactly what DuckDB's
    oracle reads — so every downstream operator and cross-version hash
    compare sees identical values.  The long→NTZ conversion goes through
    :func:`~nlp_to_nosql_spark.functions.time.micros_to_ntz` (epoch
    arithmetic, no session-timezone reinterpretation).
    """
    from pyspark.sql import functions as F, types as T

    if name == "events" and "ts" in df.columns:
        from nlp_to_nosql_spark.functions.time import micros_to_ntz

        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            df = df.withColumn("ts", micros_to_ntz(F.expr("ts div 1000")))
        elif isinstance(ts_type, T.TimestampType):
            # LTZ → NTZ through the session zone: lossless when the session
            # zone matches the zone the LTZ read assumed (both UTC here).
            df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return df


def _mongo_uri(spark: SparkSession) -> str | None:
    try:
        return spark.conf.get(MONGO_URI_CONF, None)
    except Exception:
        return None


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table — parquet from the scale-factor directory by
    default; when ``spark.nlp2nosql.source.mongo.uri`` is set, the live
    MongoDB deployment the reference runs against (table = collection,
    database from ``spark.nlp2nosql.source.mongo.database``, default
    ``testdb`` — the reference's default db, ``app_server.py:77``)."""
    _ensure_nanos_readable(spark)
    uri = _mongo_uri(spark)
    if uri:
        db = spark.conf.get(MONGO_DB_CONF, "testdb")
        return _normalize(read_mongo(spark, uri, db, name), name)
    return _normalize(spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")), name)


def register_tables(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Load and register every table as a temp view; returns the frames.

    Parquet path: missing files are skipped so smaller fixture dirs still
    register.  Mongo path (``spark.nlp2nosql.source.mongo.uri`` set):
    every name routes through :func:`load_table` — there is no local file
    to probe, and a connector/connection failure must surface, not
    silently register nothing (this is the entry point the Engine, HTTP
    server, and bench all use).
    """
    _ensure_nanos_readable(spark)
    out: dict[str, DataFrame] = {}
    mongo = _mongo_uri(spark)
    for name in tables:
        if mongo:
            df = load_table(spark, sf_dir, name)
        else:
            path = os.path.join(sf_dir, f"{name}.parquet")
            if not os.path.exists(path):
                continue
            df = _normalize(spark.read.parquet(path), name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
