"""Registry entries for the flagship hourly pipeline (SURVEY.md §3.1) and
its validation block (V1-V3).

The DuckDB oracle replays the whole chain relationally — closed-hour
extract, per-minute collapse, 60-minute grid, nearest-2 fill with the
<2-actuals skip — proving the composed pipeline, not just its stages.
(The merge stage is a single-batch upsert here, which is an identity on
unique event_ids; merge semantics proper are covered by
latest_event_per_user_type and the idempotency pytest.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from myserver_datawarehouse_spark import pipeline as P

_PIPELINE_CTE = """
hb AS (
  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h
  FROM events GROUP BY 1 ORDER BY COUNT(*) DESC, h LIMIT 1
),
batch AS (
  SELECT e.* FROM events e, hb
  WHERE CAST(e.ts AS TIMESTAMP) >= hb.h
    AND CAST(e.ts AS TIMESTAMP) < hb.h + INTERVAL 1 HOUR
),
obs AS (
  SELECT event_type,
         date_trunc('minute', CAST(ts AS TIMESTAMP)) AS minute_ts,
         ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value), 6) AS value
  FROM batch WHERE value IS NOT NULL
  GROUP BY 1, 2
),
grid AS (
  SELECT t.event_type,
         unnest(generate_series(hb.h, hb.h + INTERVAL 59 MINUTE,
                                INTERVAL 1 MINUTE)) AS minute_ts
  FROM (SELECT DISTINCT event_type FROM obs) t, hb
),
g AS (
  SELECT grid.event_type, grid.minute_ts, o.value
  FROM grid LEFT JOIN obs o USING (event_type, minute_ts)
),
eligible AS (
  SELECT event_type FROM obs GROUP BY 1 HAVING COUNT(*) >= 2
),
missing AS (
  SELECT g.event_type, g.minute_ts
  FROM g JOIN eligible USING (event_type)
  WHERE g.value IS NULL
),
near AS (
  SELECT m.event_type, m.minute_ts, o.minute_ts AS t, o.value AS v,
         ROW_NUMBER() OVER (
           PARTITION BY m.event_type, m.minute_ts
           ORDER BY ABS(date_diff('second', o.minute_ts, m.minute_ts)), o.minute_ts
         ) AS rn
  FROM missing m JOIN obs o USING (event_type)
),
pair AS (
  SELECT event_type, minute_ts,
    MAX(CASE WHEN rn = 1 THEN t END) AS t1,
    MAX(CASE WHEN rn = 1 THEN v END) AS v1,
    MAX(CASE WHEN rn = 2 THEN t END) AS t2,
    MAX(CASE WHEN rn = 2 THEN v END) AS v2
  FROM near WHERE rn <= 2 GROUP BY 1, 2
),
interp AS (
  SELECT event_type, minute_ts,
    CASE WHEN t1 = t2 THEN v1
         ELSE v1 + CAST(date_diff('second', t1, minute_ts) AS DOUBLE)
                   * (v2 - v1)
                   / CAST(date_diff('second', t1, t2) AS DOUBLE)
    END AS value,
    TRUE AS is_interpolated
  FROM pair
  UNION ALL
  SELECT event_type, minute_ts, value, FALSE AS is_interpolated FROM obs
),
result AS (
  SELECT event_type, minute_ts, value, is_interpolated,
    CAST(strftime(minute_ts, '%Y%m%d') AS INT) AS date_id,
    CAST(strftime(minute_ts, '%H%M%S') AS INT) AS time_id,
    CAST(strftime(minute_ts, '%H%M%S') AS INT) AS rounded_time_id
  FROM interp
)
"""


def flagship_hourly_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """extract → normalize → merge → gap-fill → interpolate, end to end."""
    return P.hourly_pipeline(spark, sf_dir)


FLAGSHIP_HOURLY_PIPELINE_SQL = f"""
WITH {_PIPELINE_CTE}
SELECT * FROM result
ORDER BY event_type, minute_ts
"""


def pipeline_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V1-V3 aggregates over the pipeline output (fact_gold_price.py:382-469)."""
    return P.validate(P.hourly_pipeline(spark, sf_dir))


# avg_value: the mean rounded to 6 places, half away from zero, from the
# exact sum in integer micro-units (`micro`) with an integer division,
# so no double quotient or decimal cast is rounded on a tie
# (`pipeline._rounded_mean`).
PIPELINE_VALIDATION_SQL = f"""
WITH {_PIPELINE_CTE},
micro AS (
  SELECT SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS m,
         COUNT(value) AS n
  FROM result
)
SELECT
  COUNT(*) AS total_records,
  COUNT(CASE WHEN NOT is_interpolated THEN 1 END) AS actual_records,
  COUNT(CASE WHEN is_interpolated THEN 1 END) AS interpolated_records,
  COUNT(DISTINCT event_type) AS unique_event_type,
  (SELECT CAST(CASE WHEN m < 0 THEN -((2 * -m + n) // (2 * n))
                    ELSE (2 * m + n) // (2 * n) END AS DOUBLE) / 1000000
   FROM micro) AS avg_value,
  MIN(value) AS min_value,
  MAX(value) AS max_value,
  ROUND(CAST(COUNT(CASE WHEN is_interpolated THEN 1 END) AS DOUBLE) * 100.0
        / COUNT(*), 2) AS interpolation_rate_pct,
  CAST(60 * COUNT(DISTINCT event_type) AS BIGINT) AS expected_records,
  COUNT(*) = 60 * COUNT(DISTINCT event_type) AS is_complete,
  COUNT(CASE WHEN value IS NULL THEN 1 END) AS null_value_count
FROM result
"""


# --------------------------------------- S12 alert-message assembly

# The reference's Telegram channel sends DAG run-status messages
# (telegram_alert.py:181-207): "✅ {dag} - Completed successfully" on
# success, "❌ {dag} - Failed (Failed tasks: a, b)" on failure. The
# message ASSEMBLY is data work — which checks failed, in what order,
# under which caps — and runs here as a first-class query over the
# validation block; only the socket write stays in sinks.TelegramSink.
ALERT_PIPE_NAME = "flagship_hourly_pipeline"
ALERT_INTERP_MAX_PCT = 92.0  # interpolation-share alert threshold
ALERT_MIN_SOURCES = 3  # minimum distinct sources in the closed hour


def pipeline_status_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12's data side as a first-class query
    (telegram_alert.py:35-66,181-207): the per-check task ledger plus
    the assembled DAG status message, with the Telegram caps computed
    in-plan — caption = first 1024 chars (the send_photo cap,
    telegram_alert.py:94), msg_len, and the 4096-char message chunk
    count the sink's splitter would produce.

    Checks derive from the adjudicated `pipeline_validation` aggregate
    (completeness, null values, interpolation share <=
    {ALERT_INTERP_MAX_PCT}%, source coverage >= {ALERT_MIN_SOURCES});
    the failed-task list concatenates in check order exactly as the
    reference joins failed task ids. Both message branches are
    exercised by the shipped fixtures: sf0.001's closed hour is
    incomplete AND over-interpolated (the ❌ + failed-list branch),
    sf0.01/sf0.1 pass all checks (the ✅ branch). The whole plan runs
    over ONE validation row — bounded everywhere by the check count.
    """
    v = pipeline_validation(spark, sf_dir)
    checks = v.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).cast("long").alias("ord"),
                    F.lit("completeness").alias("name"),
                    F.col("is_complete").alias("passed"),
                ),
                F.struct(
                    F.lit(2).cast("long").alias("ord"),
                    F.lit("no_null_values").alias("name"),
                    (F.col("null_value_count") == 0).alias("passed"),
                ),
                F.struct(
                    F.lit(3).cast("long").alias("ord"),
                    F.lit("interpolation_bounded").alias("name"),
                    (
                        F.col("interpolation_rate_pct")
                        <= ALERT_INTERP_MAX_PCT
                    ).alias("passed"),
                ),
                F.struct(
                    F.lit(4).cast("long").alias("ord"),
                    F.lit("source_coverage").alias("name"),
                    (F.col("unique_event_type") >= ALERT_MIN_SOURCES).alias(
                        "passed"
                    ),
                ),
            )
        ).alias("c")
    ).select("c.ord", "c.name", "c.passed")
    icon = F.when(F.col("passed"), F.lit("✅")).otherwise(F.lit("❌"))
    tasks = checks.select(
        F.col("ord").alias("alert_order"),
        F.lit("task").alias("scope"),
        "name",
        "passed",
        F.concat(
            icon,
            F.lit(" " + ALERT_PIPE_NAME + "."),
            F.col("name"),
            F.when(
                F.col("passed"), F.lit(" - Completed successfully")
            ).otherwise(F.lit(" - Failed")),
        ).alias("message"),
    )
    dag = (
        checks.agg(
            (F.sum((~F.col("passed")).cast("int")) == 0).alias("passed"),
            F.concat_ws(
                ", ",
                F.expr(
                    "transform(array_sort(collect_list("
                    "CASE WHEN NOT passed THEN struct(ord, name) END)), "
                    "s -> s.name)"
                ),
            ).alias("failed"),
        )
        .select(
            F.lit(99).cast("long").alias("alert_order"),
            F.lit("dag").alias("scope"),
            F.lit(ALERT_PIPE_NAME).alias("name"),
            "passed",
            F.when(
                F.col("passed"),
                F.lit("✅ " + ALERT_PIPE_NAME + " - Completed successfully"),
            )
            .otherwise(
                F.concat(
                    F.lit("❌ " + ALERT_PIPE_NAME + " - Failed"),
                    F.when(
                        F.col("failed") != "",
                        F.concat(
                            F.lit(" (Failed tasks: "),
                            F.col("failed"),
                            F.lit(")"),
                        ),
                    ).otherwise(F.lit("")),
                )
            )
            .alias("message"),
        )
    )
    return (
        tasks.unionByName(dag)
        .select(
            "alert_order",
            "scope",
            "name",
            "passed",
            "message",
            F.substring("message", 1, 1024).alias("caption"),
            F.length("message").cast("long").alias("msg_len"),
            F.expr("(length(message) + 4095) div 4096").alias("n_chunks"),
        )
        .orderBy("alert_order")
    )


PIPELINE_STATUS_ALERTS_SQL = f"""
WITH {_PIPELINE_CTE},
v AS (
  SELECT
    COUNT(DISTINCT event_type) AS unique_event_type,
    ROUND(CAST(COUNT(CASE WHEN is_interpolated THEN 1 END) AS DOUBLE)
          * 100.0 / COUNT(*), 2) AS interpolation_rate_pct,
    COUNT(*) = 60 * COUNT(DISTINCT event_type) AS is_complete,
    COUNT(CASE WHEN value IS NULL THEN 1 END) AS null_value_count
  FROM result
),
checks AS (
  SELECT CAST(1 AS BIGINT) AS ord, 'completeness' AS name,
         is_complete AS passed FROM v
  UNION ALL
  SELECT CAST(2 AS BIGINT), 'no_null_values', null_value_count = 0 FROM v
  UNION ALL
  SELECT CAST(3 AS BIGINT), 'interpolation_bounded',
         interpolation_rate_pct <= {ALERT_INTERP_MAX_PCT!r} FROM v
  UNION ALL
  SELECT CAST(4 AS BIGINT), 'source_coverage',
         unique_event_type >= {ALERT_MIN_SOURCES} FROM v
),
tasks AS (
  SELECT ord AS alert_order, 'task' AS scope, name, passed,
         (CASE WHEN passed THEN '✅' ELSE '❌' END)
           || ' {ALERT_PIPE_NAME}.' || name
           || (CASE WHEN passed THEN ' - Completed successfully'
                    ELSE ' - Failed' END) AS message
  FROM checks
),
dagrow AS (
  SELECT CAST(99 AS BIGINT) AS alert_order, 'dag' AS scope,
         '{ALERT_PIPE_NAME}' AS name,
         BOOL_AND(passed) AS passed,
         CASE WHEN BOOL_AND(passed)
              THEN '✅ {ALERT_PIPE_NAME} - Completed successfully'
              ELSE '❌ {ALERT_PIPE_NAME} - Failed'
                || CASE WHEN array_to_string(
                          list(name ORDER BY ord) FILTER (WHERE NOT passed),
                          ', ') <> ''
                   THEN ' (Failed tasks: '
                     || array_to_string(
                          list(name ORDER BY ord) FILTER (WHERE NOT passed),
                          ', ') || ')'
                   ELSE '' END
         END AS message
  FROM checks
),
allrows AS (SELECT * FROM tasks UNION ALL SELECT * FROM dagrow)
SELECT alert_order, scope, name, passed, message,
       substring(message, 1, 1024) AS caption,
       CAST(length(message) AS BIGINT) AS msg_len,
       (length(message) + 4095) // 4096 AS n_chunks
FROM allrows
ORDER BY alert_order
"""
