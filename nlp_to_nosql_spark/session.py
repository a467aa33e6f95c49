"""SparkSession factory with scale-minded defaults.

One lazily-created session per process (the analogue of the reference's
lazy Mongo client singleton, ``No_Sql.py:138-173``).  Defaults are chosen
for the 100 TB design point and scale down fine to local[32]:

* AQE on — runtime coalescing of shuffle partitions, skew-join splitting,
  dynamic join-strategy demotion;
* auto-broadcast threshold raised so dimension tables (region/nation/
  supplier-sized) always broadcast;
* Arrow enabled for every pandas/Pandas-UDF boundary;
* shuffle partitions sized per-environment (overridable; AQE coalesces
  down, so oversizing is safe at scale).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONFS: dict[str, str] = {
    # UTC pin: every LTZ<->NTZ conversion in the engine (catalog ts
    # canonicalization, streaming event-time staging) reinterprets
    # wall-clocks through this zone; UTC makes them lossless and keeps
    # epoch math DST-free.  The catalog re-pins at registration so
    # externally provided sessions (the driver's) behave identically.
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
    # Parquet TIMESTAMP(NANOS) columns raise PARQUET_TYPE_ILLEGAL without
    # this; with it they read as a long of nanos that the catalog converts.
    # (The testdata's events.ts is micros and reads natively as NTZ.)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"),
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # pyspark's applyInPandasWithState serializer pads data/state frames
    # with all-NA rows and concats them (serializers.py:1680-1702),
    # tripping pandas' concat FutureWarning once per worker per stateful
    # query — pure log noise from library-internal code we can't change.
    # Filter exactly that message in the python workers; everything else
    # (including our own UDFs' warnings) still surfaces.
    "spark.executorEnv.PYTHONWARNINGS": (
        "ignore:The behavior of DataFrame concatenation"
    ),
}


def get_spark(app_name: str = "nlp_to_nosql_spark", master: str | None = None) -> SparkSession:
    """Get-or-create the engine's SparkSession."""
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        builder = builder.master(f"local[{cpus}]")
    for k, v in DEFAULT_CONFS.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
