"""Parquet source layer (reference S1-S3, SURVEY.md §2.1).

The reference reads via SQL pushed to Postgres (fact_gold_price.py:46-71);
here the equivalent is a parquet scan whose filters/projections Catalyst
pushes into the file source — `.explain()` shows PushedFilters/ReadSchema.

A plain `spark.read.parquet(path)` infers the schema with a one-task Spark
job that reads a data file's footer. `load_table` reads that footer on the
driver instead and hands the schema to the reader, so loading a table
starts no job; the footer is read again on every call.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TESTDATA_TABLES = (
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


def footer_schema(spark: SparkSession, path: str) -> StructType | None:
    """The schema `spark.read.parquet(path)` infers, read from one data
    file's footer on the driver with Spark's own conversion
    (`ParquetFileFormat.readSchemaFromFooter`, a converter built from the
    session conf), so `nanosAsLong`, timestamp-NTZ inference and the
    Spark row metadata a Spark writer stores all apply as in inference.
    (That metadata keeps the writer's non-nullable columns; the file
    source reads every column as nullable either way.)
    `path` is a parquet file or a flat directory of them (Spark infers
    from one file too, `mergeSchema` off). None for a partitioned or
    empty directory: the caller lets Spark infer those."""
    data = path
    if os.path.isdir(path):
        entries = sorted(e for e in os.listdir(path)
                         if not e.startswith(("_", ".")))
        if not entries or any(os.path.isdir(os.path.join(path, e))
                              for e in entries):
            return None
        data = os.path.join(path, entries[0])
    def jclass(name):  # one py4j lookup per class, not one per package
        return getattr(spark._jvm, name)

    pq = "org.apache.spark.sql.execution.datasources.parquet."
    state = spark._jsparkSession.sessionState()
    hpath = jclass("org.apache.hadoop.fs.Path")(data)
    meta = jclass(pq + "ParquetFooterReader").readFooter(
        jclass("org.apache.parquet.hadoop.util.HadoopInputFile").fromPath(
            hpath, state.newHadoopConf()),
        jclass("org.apache.parquet.format.converter.ParquetMetadataConverter")
        .SKIP_ROW_GROUPS,
    )
    schema = jclass(pq + "ParquetFileFormat").readSchemaFromFooter(
        jclass("org.apache.parquet.hadoop.Footer")(hpath, meta),
        jclass(pq + "ParquetToSparkSchemaConverter")(state.conf()),
    )
    return StructType.fromJson(json.loads(schema.json()))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one TESTDATA table. Plain parquet read with the schema taken
    from the footer (`footer_schema`, no inference job) — filter/column
    pruning is left to Catalyst (do NOT .cache() here; let pushdown reach
    the scan).

    `events.ts` is parquet TIMESTAMP(NANOS). Depending on the Spark build
    this scans either as a long of nanos (legacy `nanosAsLong` path) or
    natively as TIMESTAMP_NTZ truncated to micros; both are normalized here
    to a session-zone TIMESTAMP. The long path converts via INTEGER
    division (`ts div 1000`) — long arithmetic matches DuckDB's
    nanos→micros truncation exactly, whereas `/1000` would round through a
    double and drift the last microsecond. The NTZ path is a plain cast
    (session tz is UTC, so wall-clock == instant).
    """
    path, schema = table_source(spark, sf_dir, name)
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(path)
    return utc_ts(df) if name == "events" else df


def table_source(
    spark: SparkSession, sf_dir: str, name: str
) -> tuple[str, StructType | None]:
    """The path of one TESTDATA table and its footer schema, with the
    session conf its scan needs. The caller may hand us a session
    without our factory config (the driver builds its own). Both confs
    are runtime-settable and correctness-critical: UTC pins every
    date_id/time_id derivation to the oracle's tz-naive arithmetic
    (session.py's policy), nanosAsLong makes TIMESTAMP(NANOS) parquet
    readable at all."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    return path, footer_schema(spark, path)


def utc_ts(events: DataFrame) -> DataFrame:
    """`events` (a batch scan or a file stream) with `ts` normalized to a
    session-zone TIMESTAMP, whichever type the scan gave it."""
    ts_type = dict(events.dtypes).get("ts")
    if ts_type == "bigint":
        return events.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":
        return events.withColumn("ts", F.col("ts").cast("timestamp"))
    return events
