"""The flagship end-to-end pipeline (SURVEY.md §3.1), Spark-first.

Mirrors the reference's hourly fact ETL chain
(`fact_gold_price.py:526`: create → extract → load → interpolate →
validate) in Spark plans instead of five Airflow tasks exchanging rows
through XCom:

    closed-hour extract (S2) → key derivation (P2-P7) → broadcast dim join
    (J1/J2) → bulk merge (S4) → hour-grid gap-fill (T1) → nearest-2
    interpolation (T2/T3) → validation aggregates (V1-V3)

Deviations from the reference, on purpose:
- The extract window is half-open [H, H+1h) rather than the reference's
  inclusive BETWEEN (fact_gold_price.py:64-66), which double-reads the
  boundary minute into two consecutive hourly batches and relies on upsert
  to repair it. Half-open gives exactly-once row ownership.
- Interpolation runs on epoch-second minutes, not HHMMSS integers, so the
  cross-midnight +240000 hack (fact_gold_price_temp.py:343-346) is
  unnecessary.

A tick's cost scales with the hour, not with the fact table: the
read-back after the merge takes the batch's schema (no inference job),
prunes to the hour's `date_id` partition(s) and pushes the hour's `ts`
window into the scan. The nearest-2 fill runs on the JVM alone (one
aggregate into a sorted array per group, one `inline` generator), so a
tick starts no Python worker. Its output (at most 60 rows per group) is
computed once, eagerly, so a sink and `validate` both read the stored
result instead of re-running the lineage. The Spark actions a tick runs
are the 1-row hour-bound probe (when no hour is given), the merge write
and that one materialization.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from myserver_datawarehouse_spark.functions import keys as K
from myserver_datawarehouse_spark.operators import merge as M
from myserver_datawarehouse_spark.operators import timeseries as TS
from myserver_datawarehouse_spark.session import materialize
from myserver_datawarehouse_spark.sources.tables import load_table

GROUP_KEYS = ["event_type"]


def last_closed_hour(spark: SparkSession, sf_dir: str) -> int:
    """S2 window bound: floor(max ts) to the hour, minus one hour — the
    last *closed* hour in the data (the reference anchors on wall-clock
    CURRENT_TIMESTAMP; a reproducible engine anchors on the data)."""
    row = (
        load_table(spark, sf_dir, "events")
        .agg(F.unix_timestamp(F.date_trunc("hour", F.max("ts"))).alias("h"))
        .first()
    )
    return int(row["h"]) - 3600


def busiest_hour(spark: SparkSession, sf_dir: str) -> int:
    """Deterministic demo anchor: the hour with the most events (ties →
    earliest hour). The sparse low-sf tails make `last_closed_hour` a
    near-empty batch; the busiest hour exercises gap-fill + interpolation
    meaningfully at every scale factor."""
    row = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.unix_timestamp(F.date_trunc("hour", "ts")).alias("h")
        )
        .count()
        .orderBy(F.desc("count"), "h")
        .first()
    )
    return int(row["h"])


def _in_hour(hour_start: int) -> Column:
    """The half-open [H, H+1h) window predicate on `ts`."""
    lo = F.timestamp_seconds(F.lit(hour_start))
    hi = F.timestamp_seconds(F.lit(hour_start + 3600))
    return (F.col("ts") >= lo) & (F.col("ts") < hi)


def extract_hour(spark: SparkSession, sf_dir: str, hour_start: int) -> DataFrame:
    """S2 closed-window extract + P3/P4/P7 key derivation. The ts filter
    pushes down to the parquet scan; key expressions stay in codegen."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.filter(_in_hour(hour_start))
        .withColumn("date_id", K.date_id("ts"))
        .withColumn("time_id", K.time_id("ts"))
        .withColumn("rounded_time_id", K.rounded_time_id(F.col("time_id")))
    )


def hourly_pipeline(
    spark: SparkSession,
    sf_dir: str,
    workdir: str | None = None,
    hour_start: int | None = None,
) -> DataFrame:
    """Run the full chain for one closed hour (default: the busiest hour in
    the data); returns the interpolated minute table (event_type,
    minute_ts, value, is_interpolated, date_id, time_id,
    rounded_time_id), already computed (`session.materialize`)."""
    if hour_start is None:
        hour_start = busiest_hour(spark, sf_dir)
    batch = extract_hour(spark, sf_dir, hour_start)

    # S4: idempotent bulk merge into the fact table (temp dir when the
    # caller doesn't maintain one — the driver's smoke run; reclaimed
    # at process exit so repeated bench/verify invocations don't leak
    # one fact-table copy per call).
    if workdir is None:
        import atexit
        import shutil

        workdir = tempfile.mkdtemp(prefix="dw_fact_")
        atexit.register(shutil.rmtree, workdir, ignore_errors=True)
    fact_path = workdir + "/fact_events"
    M.merge_upsert(spark, fact_path, batch, keys=["event_id"],
                   partition_by=["date_id"])
    # Read back only the hour's rows: every output row comes from an actual
    # inside the hour, so the rest of the table cannot change the result.
    first, last = (K.date_id(F.timestamp_seconds(F.lit(t)))
                   for t in (hour_start, hour_start + 3599))
    fact = (
        spark.read.schema(batch.schema).parquet(fact_path)
        .filter(F.col("date_id").between(first, last))
        .filter(_in_hour(hour_start))
    )

    # T1/T2: the hour's 60-minute grid per group, filled with the
    # reference's nearest-2 rule.
    obs = TS.minute_observations(fact, GROUP_KEYS)
    filled = TS.interpolate_hour_nearest2(obs, GROUP_KEYS, hour_start)

    out = TS.with_minute_ts(filled).select(
        *GROUP_KEYS,
        "minute_ts",
        "value",
        "is_interpolated",
        K.date_id("minute_ts").alias("date_id"),
        K.time_id("minute_ts").alias("time_id"),
        K.rounded_time_id(K.time_id("minute_ts")).alias("rounded_time_id"),
    )
    # At most 60 rows per group: one partition sorts it without a range
    # exchange, and materializing it lets the caller's sink and validate()
    # read the stored rows instead of re-running the read-back and kernel.
    return materialize(out.coalesce(1).orderBy(*GROUP_KEYS, "minute_ts"))


def _rounded_mean(col: str) -> Column:
    """The mean of `col` rounded to 6 places, half away from zero, in
    exact arithmetic: the sum in integer micro-units over the count with
    an integer division. Spark and DuckDB round a tie differently both in
    a double quotient and in a double -> DECIMAL(18,6) cast (Spark rounds
    the shortest decimal form half up, DuckDB the scaled double half to
    even), so each row's micro-units are ROUND(col * 1e6): the same
    double, rounded half away from zero by both. The flagship oracle
    (`flagship.PIPELINE_VALIDATION_SQL`) computes the same."""
    m = f"SUM(CAST(ROUND({col} * 1000000) AS BIGINT))"
    n = f"COUNT({col})"
    return F.expr(
        f"CAST(CASE WHEN {m} < 0 THEN -((2 * -{m} + {n}) div (2 * {n})) "
        f"ELSE (2 * {m} + {n}) div (2 * {n}) END AS DOUBLE) / 1000000"
    )


def validate(interpolated: DataFrame) -> DataFrame:
    """V1-V3 in one aggregate over the pipeline output: the stats profile
    and interpolation rate (fact_gold_price.py:382-431), completeness
    `total == unique groups × 60` (:433-440) and the null-value count
    (:443-460).

    The unique-key counts are `size(collect_set(k))`, not
    `countDistinct(k)`: a distinct aggregate plans an Expand and a second
    shuffle (3 jobs instead of 2). The sets stay small because the only
    input is `hourly_pipeline`'s output, at most 60 rows per group, and
    the only callers are `flagship.pipeline_validation` and the
    benchmark."""
    interp = F.col("is_interpolated")
    total = F.count(F.lit(1))
    n_interp = F.count(F.when(interp, 1))
    unique = {k: F.size(F.collect_set(k)).cast("long") for k in GROUP_KEYS}
    expected = F.lit(60)
    for k in GROUP_KEYS:
        expected = expected * unique[k]
    return interpolated.agg(
        total.alias("total_records"),
        F.count(F.when(~interp, 1)).alias("actual_records"),
        n_interp.alias("interpolated_records"),
        *[unique[k].alias(f"unique_{k}") for k in GROUP_KEYS],
        _rounded_mean("value").alias("avg_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.round(n_interp.cast("double") * 100.0 / total, 2).alias(
            "interpolation_rate_pct"
        ),
        expected.cast("long").alias("expected_records"),
        (total == expected).alias("is_complete"),
        F.count(F.when(F.col("value").isNull(), 1)).alias("null_value_count"),
    )
