"""MongoDB read paths — the engine-side twin of the reference's live store.

The reference executes every query against a running ``mongod``
(``No_Sql.py:389-404``: ``client[db][coll]`` via pymongo); this engine
executes against parquet through Catalyst by design (SURVEY §1.1).  This
module closes the remaining gap for users whose data still LIVES in Mongo,
with two tiers:

* :func:`read_mongo` — the real connector path.  Uses the MongoDB Spark
  Connector (``format("mongodb")``, public artifact
  ``org.mongodb.spark:mongo-spark-connector``), feature-detected at load:
  when the jar is not on the session's classpath the call degrades to a
  clear actionable error instead of a raw DATA_SOURCE_NOT_FOUND.  At
  cluster scale the connector partitions the collection server-side and
  pushes filters/projections down — the right 100 TB shape, nothing to
  add engine-side.
* :func:`read_mongoexport` — the offline path.  Reads ``mongoexport``
  JSONL (MongoDB Extended JSON v2, a public documented format) with
  ``spark.read.json`` and then decodes the ``$``-typed wrappers
  (``$oid``/``$date``/``$numberLong``/...) into native Spark types —
  recursively, as pure JVM column expressions over the inferred schema
  (no Python in the row path).  This is what the offline tests exercise,
  and a practical migration ramp: dump once, run everything.

The catalog stays parquet-first: :func:`~nlp_to_nosql_spark.sources.
catalog.load_table` routes to Mongo only when
``spark.nlp2nosql.source.mongo.uri`` is set.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F, types as T

#: When set, the catalog reads tables from this Mongo deployment instead
#: of parquet (table name = collection name).
MONGO_URI_CONF = "spark.nlp2nosql.source.mongo.uri"
#: Database to read collections from (reference default: ``testdb``).
MONGO_DB_CONF = "spark.nlp2nosql.source.mongo.database"

_CONNECTOR_HINT = (
    "MongoDB Spark Connector not available on this session's classpath. "
    "Add the public artifact (e.g. spark.jars.packages="
    "org.mongodb.spark:mongo-spark-connector_2.13:10.4.0) and retry, or "
    "dump the collection with mongoexport and load it offline via "
    "nlp_to_nosql_spark.sources.mongo.read_mongoexport."
)


def read_mongo(
    spark: SparkSession, uri: str, database: str, collection: str
) -> DataFrame:
    """Read one collection through the MongoDB Spark Connector.

    Feature-detected: when the connector jar is absent from the
    classpath, Spark raises DATA_SOURCE_NOT_FOUND at load — re-raised
    here as a RuntimeError with the exact remediation.
    """
    try:
        return (
            spark.read.format("mongodb")
            .option("connection.uri", uri)
            .option("database", database)
            .option("collection", collection)
            .load()
        )
    except Exception as e:  # noqa: BLE001 — classify, then re-raise clearly
        # Narrow classifier: ONLY the connector-jar-absent shapes
        # (Spark's DATA_SOURCE_NOT_FOUND error class / the pre-error-class
        # "Failed to find data source" message).  Anything else — auth,
        # connection, partitioner failures with the jar present — must
        # propagate unmasked, or the remediation sends the operator to
        # install a jar they already have.
        msg = str(e)
        if "DATA_SOURCE_NOT_FOUND" in msg or "Failed to find data source" in msg:
            raise RuntimeError(_CONNECTOR_HINT) from e
        raise


def _decode_extjson(col: Column, dt: T.DataType) -> Column:
    """Recursively rewrite Extended-JSON wrapper structs to native types.

    ``spark.read.json`` infers ``{"$oid": "..."}`` as
    ``struct<$oid:string>`` and so on; this maps each wrapper to the
    value it encodes and recurses through ordinary structs and arrays.
    Everything is a Catalyst expression — whole-stage-codegen'd, no UDFs.
    """
    if isinstance(dt, T.StructType):
        names = tuple(f.name for f in dt.fields)
        inner = {f.name: f.dataType for f in dt.fields}
        if names == ("$oid",):
            return col.getField("$oid")
        if names == ("$date",):
            d = inner["$date"]
            if isinstance(d, T.StructType) and tuple(
                f.name for f in d.fields
            ) == ("$numberLong",):
                # canonical form: millis since epoch as a string
                return F.timestamp_millis(
                    col.getField("$date").getField("$numberLong").cast("long")
                )
            if isinstance(d, (T.LongType, T.IntegerType)):
                return F.timestamp_millis(col.getField("$date").cast("long"))
            # String-typed $date: relaxed ISO-8601 — or, when one file
            # mixes relaxed and canonical rows, Spark's JSON inference
            # widens the canonical structs to their JSON text; re-parse
            # those for the millis, fall through to ISO otherwise.
            s = col.getField("$date")
            millis = F.from_json(
                s, T.StructType([T.StructField("$numberLong", T.StringType())])
            ).getField("$numberLong")
            return F.when(
                millis.isNotNull(), F.timestamp_millis(millis.cast("long"))
            ).otherwise(F.try_to_timestamp(s))
        if names == ("$numberLong",):
            return col.getField("$numberLong").cast("long")
        if names == ("$numberInt",):
            return col.getField("$numberInt").cast("int")
        if names == ("$numberDouble",):
            return col.getField("$numberDouble").cast("double")
        if names == ("$numberDecimal",):
            return col.getField("$numberDecimal").cast("decimal(38,10)")
        # Rebuilding a plain struct with F.struct would turn a NULL struct
        # into a non-null struct of NULLs ({"address": null} must stay
        # NULL, not become {city: null, zip: null}) — guard on the parent.
        rebuilt = F.struct(
            *[
                _decode_extjson(col.getField(f.name), f.dataType).alias(f.name)
                for f in dt.fields
            ]
        )
        return F.when(col.isNull(), F.lit(None)).otherwise(rebuilt)
    if isinstance(dt, T.ArrayType):
        return F.transform(col, lambda x: _decode_extjson(x, dt.elementType))
    return col


def decode_extended_json(df: DataFrame) -> DataFrame:
    """Decode every Extended-JSON wrapper column in ``df`` (see
    :func:`_decode_extjson`)."""
    return df.select(
        *[
            _decode_extjson(F.col(f.name), f.dataType).alias(f.name)
            for f in df.schema.fields
        ]
    )


def read_mongoexport(spark: SparkSession, path: str) -> DataFrame:
    """Load a ``mongoexport`` JSONL dump (Extended JSON v2) as a DataFrame
    with native Spark types.

    Two passes, both distributed: schema-inferring JSON scan, then the
    JVM-side wrapper decode.  At dump scale the JSON scan parallelizes by
    file split like any text source; for repeated analytics convert the
    result to parquet once (``df.write.parquet``) and register that.
    """
    return decode_extended_json(spark.read.json(path))
