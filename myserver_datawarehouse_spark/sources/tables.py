"""Parquet source layer (reference S1-S3, SURVEY.md §2.1).

The reference reads via SQL pushed to Postgres (fact_gold_price.py:46-71);
here the equivalent is a parquet scan whose filters/projections Catalyst
pushes into the file source — `.explain()` shows PushedFilters/ReadSchema.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one TESTDATA table. Plain parquet read — filter/column pruning
    is left to Catalyst (do NOT .cache() here; let pushdown reach the scan).

    `events.ts` is parquet TIMESTAMP(NANOS). Depending on the Spark build
    this scans either as a long of nanos (legacy `nanosAsLong` path) or
    natively as TIMESTAMP_NTZ truncated to micros; both are normalized here
    to a session-zone TIMESTAMP. The long path converts via INTEGER
    division (`ts div 1000`) — long arithmetic matches DuckDB's
    nanos→micros truncation exactly, whereas `/1000` would round through a
    double and drift the last microsecond. The NTZ path is a plain cast
    (session tz is UTC, so wall-clock == instant).
    """
    # The caller may hand us a session without our factory config (the
    # driver builds its own). Both confs are runtime-settable and
    # correctness-critical: UTC pins every date_id/time_id derivation to
    # the oracle's tz-naive arithmetic (session.py's policy), nanosAsLong
    # makes TIMESTAMP(NANOS) parquet readable at all.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df

