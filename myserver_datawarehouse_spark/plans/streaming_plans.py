"""Registry entries for the streaming variants (§2.12): each runs the
continuous query with Trigger.AvailableNow over the bounded testdata
source, so the result is deterministic and comparable to a batch DuckDB
oracle — the streaming/batch unification Spark promises, made testable.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from myserver_datawarehouse_spark.plans.relational import (
    _fresh_work,
    _pid_tmpdir,
    _sum_value,
)
from myserver_datawarehouse_spark.streaming import jobs as SJ


def streaming_minute_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minute-window streaming aggregate, drained via availableNow."""
    stream = SJ.events_stream(spark, sf_dir)
    out = SJ.run_available_now(
        SJ.minute_agg_query(stream), spark, "streaming_minute_agg_sink"
    )
    return out.orderBy("event_type", "minute_ts")


STREAMING_MINUTE_AGG_SQL = """
SELECT date_trunc('minute', CAST(ts AS TIMESTAMP)) AS minute_ts,
       event_type,
       COUNT(*) AS n_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value), 6)
         AS avg_value
FROM events
WHERE value IS NOT NULL
GROUP BY 1, 2
ORDER BY event_type, minute_ts
"""


def streaming_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming key-dedup + running count, drained via availableNow."""
    stream = SJ.events_stream(spark, sf_dir)
    out = SJ.run_available_now(
        SJ.dedup_counts_query(stream), spark, "streaming_dedup_counts_sink"
    )
    return out.orderBy("event_type")


STREAMING_DEDUP_COUNTS_SQL = """
SELECT event_type, COUNT(DISTINCT event_id) AS n_unique_events
FROM events
GROUP BY 1
ORDER BY event_type
"""


def streaming_dedup_within_watermark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The bounded-state twin of `streaming_dedup_counts`:
    dropDuplicatesWithinWatermark evicts dedup state at the watermark
    (see streaming/jobs.py), so an infinite stream holds only the
    horizon's keys. Same drain, same oracle."""
    stream = SJ.events_stream(spark, sf_dir)
    out = SJ.run_available_now(
        SJ.dedup_within_watermark_query(stream),
        spark,
        "streaming_dedup_within_wm_sink",
    )
    return out.orderBy("event_type")


STREAMING_DEDUP_WITHIN_WATERMARK_SQL = STREAMING_DEDUP_COUNTS_SQL


def streaming_gap_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-type gap-run
    tracker drained via availableNow; the last update per key is the
    final state snapshot (single-file source => typically one batch, but
    the rank guard keeps it correct under any batching)."""
    from pyspark.sql import Window

    stream = SJ.events_stream(spark, sf_dir)
    out = SJ.run_available_now(
        SJ.gap_state_query(stream), spark, "streaming_gap_state_sink", "update"
    )
    w = Window.partitionBy("event_type").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_type", "n_events", "n_gap_runs", "last_minute_ts")
        .orderBy("event_type")
    )


STREAMING_GAP_STATE_SQL = """
WITH e AS (
  SELECT event_type, date_trunc('minute', CAST(ts AS TIMESTAMP)) AS m
  FROM events WHERE value IS NOT NULL
),
cnt AS (
  SELECT event_type, COUNT(*) AS n_events, MAX(m) AS last_minute_ts
  FROM e GROUP BY 1
),
u AS (SELECT DISTINCT event_type, m FROM e),
runs AS (
  SELECT event_type,
         COUNT(CASE WHEN date_diff('second', pm, m) > 60 THEN 1 END)
           AS n_gap_runs
  FROM (
    SELECT event_type, m,
           lag(m) OVER (PARTITION BY event_type ORDER BY m) AS pm
    FROM u
  )
  GROUP BY 1
)
SELECT c.event_type, c.n_events, r.n_gap_runs, c.last_minute_ts
FROM cnt c JOIN runs r USING (event_type)
ORDER BY event_type
"""


def streaming_band_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast band join + hourly rollup, drained via
    availableNow (stateless stream-side join; see jobs.band_join_query)."""
    from myserver_datawarehouse_spark.plans.relational import (
        _bands_values_literal,
    )

    bands = spark.sql(
        "SELECT band, CAST(lo AS DOUBLE) lo, CAST(hi AS DOUBLE) hi "
        f"FROM (VALUES {_bands_values_literal()}) AS b(band, lo, hi)"
    )
    stream = SJ.events_stream(spark, sf_dir)
    out = SJ.run_available_now(
        SJ.band_join_query(stream, bands), spark, "streaming_band_rollup_sink"
    )
    return out.orderBy("band", "hour_ts")


def _streaming_band_rollup_sql() -> str:
    from myserver_datawarehouse_spark.plans.relational import (
        _bands_values_literal,
    )

    return f"""
SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
         AS hour_ts,
       b.band,
       COUNT(*) AS n_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS sum_value
FROM events e
JOIN (VALUES {_bands_values_literal()}) AS b(band, lo, hi)
  ON e.value >= b.lo AND e.value < b.hi
WHERE value IS NOT NULL
GROUP BY 1, 2
ORDER BY band, hour_ts
"""


STREAMING_BAND_ROLLUP_SQL = _streaming_band_rollup_sql()


def streaming_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream join (click -> purchase attribution within 1 hour),
    drained via availableNow in append mode."""
    stream = SJ.events_stream(spark, sf_dir)
    out = SJ.run_available_now(
        SJ.click_attribution_query(stream),
        spark,
        "streaming_click_attribution_sink",
        mode="append",
    )
    return out.orderBy("user_id", "click_id", "buy_id")


STREAMING_CLICK_ATTRIBUTION_SQL = """
WITH c AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS cts, event_id AS click_id
  FROM events WHERE event_type = 'click'
),
b AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS bts, event_id AS buy_id
  FROM events WHERE event_type = 'purchase'
)
SELECT c.user_id AS user_id, c.click_id, b.buy_id,
       CAST(FLOOR(date_diff('second', c.cts, b.bts) / 60.0) AS BIGINT)
         AS minutes_to_buy
FROM c
JOIN b ON c.user_id = b.user_id
      AND b.bts >= c.cts
      AND b.bts <= c.cts + INTERVAL 1 HOUR
ORDER BY c.user_id, click_id, buy_id
"""


def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window streaming aggregate drained via availableNow,
    rolled up per user in batch on the sink (two stateful aggs can't
    stack in one streaming query). A session merges events while each
    arrives strictly within 30 minutes of the session's current end, so
    the batch oracle's new-session rule is gap >= 30 min."""
    stream = SJ.events_stream(spark, sf_dir)
    sessions = SJ.run_available_now(
        SJ.session_window_query(stream), spark, "streaming_session_windows_sink"
    )
    return (
        sessions.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
            F.max("n_events").alias("max_session_events"),
        )
        .orderBy("user_id")
    )


STREAMING_SESSION_WINDOWS_SQL = """
WITH e AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
  FROM events WHERE value IS NOT NULL
),
flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR date_diff('microsecond', lag(ts) OVER w, ts)
                   >= 1800000000
              THEN 1 ELSE 0 END AS is_start
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sessions AS (
  SELECT user_id,
         CAST(SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS session_id
  FROM flagged
),
per_session AS (
  SELECT user_id, session_id, COUNT(*) AS n_events
  FROM sessions GROUP BY 1, 2
)
SELECT user_id,
       COUNT(*) AS n_sessions,
       CAST(SUM(n_events) AS BIGINT) AS n_events,
       MAX(n_events) AS max_session_events
FROM per_session
GROUP BY 1
ORDER BY user_id
"""


def streaming_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch continuous-ingest upsert drained over the bounded
    source: the final merged table must equal the batch latest-per-key
    dedup exactly (same oracle as `latest_event_per_user_type`), proving
    the streaming merge is batch-equivalent under arbitrary batch splits.

    NOTE (bench interpretation): unlike the other registry plans, this
    runs the whole streaming job EAGERLY at plan-construction time — the
    returned DataFrame only re-reads the merged parquet target. Its bench
    time is therefore end-to-end streaming wall, not lazy-plan cost.

    The work dir is keyed per (sf, pid) and removed at exit, so two
    processes on one SF never share a table and repeated runs in one
    process reuse one copy. Checkpoint and target are cleared up front
    so a stale previous run can never feed rows into this one."""
    from myserver_datawarehouse_spark.operators.merge import drop_table

    work = _pid_tmpdir("msdw_stream_upsert", sf_dir)
    shutil.rmtree(os.path.join(work, "ckpt"), ignore_errors=True)
    # drop_table, not rmtree: the merged target is a WAP snapshot
    # symlink (rmtree refuses links and would leave the previous run's
    # snapshots readable through it).
    drop_table(os.path.join(work, "target"))
    target = SJ.upsert_merge_stream(spark, sf_dir, work)
    return (
        spark.read.parquet(target)
        .select("user_id", "event_type", "event_id", "ts", "value")
        .orderBy("user_id", "event_type")
    )


STREAMING_UPSERT_MERGE_SQL = """
WITH ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, event_type, event_id, ts, value
FROM ranked WHERE rn = 1 ORDER BY user_id, event_type
"""


def streaming_restart_exactly_once(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """§2.12 checkpoint-restart exactly-once, driver-adjudicated: half
    the events drain under a checkpoint, the query STOPS, the other half
    arrives, and a new query restarts from the same checkpoint. The
    final sink rollup must equal the plain batch rollup over ALL events
    — a replayed batch doubles a count, a lost batch drops one, and
    either flips the hash against the oracle.

    Eager-execution note: like streaming_upsert_merge, the two drains
    run at plan-construction time into a fixed per-(sf, pid) work dir,
    cleared up front so reruns are idempotent."""
    work = _pid_tmpdir("msdw_stream_restart", sf_dir)
    sink = SJ.restart_exactly_once_stream(spark, sf_dir, work)
    return (
        spark.read.parquet(sink)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("event_id").alias("n_unique_events"),
            _sum_value(),
        )
        .orderBy("event_type")
    )


STREAMING_RESTART_EXACTLY_ONCE_SQL = """
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT event_id) AS n_unique_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
         AS sum_value
FROM events
GROUP BY 1
ORDER BY event_type
"""


def streaming_watermark_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.12 watermark late-data accounting as a driver verdict: events
    replay in three deterministic interleaved batches (event_id mod 3,
    file order pinned by mtime), so batches 1-2 deliver heavily late
    rows against an advanced watermark. The output is the audit
    summary — windows emitted, rows emitted, rows REFUSED by the
    watermark (observed via numRowsDroppedByWatermark), rows total — and
    the oracle recomputes all four from the calibrated two-watermark
    model Spark actually implements (verified empirically, see below):

      m_k      = max event time in batch k
      W_k      = max(m_0..m_{k-1}) − delay   (in effect during batch k)
      late drop in batch k  iff  window_end ≤ W_{k-1}  (the LATE filter
            lags eviction by one batch: a row is dropped against the
            PREVIOUS batch's watermark — equality drops, measured)
      emitted  = surviving-row windows with window_end ≤ max(all) − delay
            (equality emits: a window whose end equals the final
            watermark IS evicted+emitted, measured; availableNow runs a
            final flush batch whenever the last data batch advanced the
            watermark, so the final set closes under W_final)
      numRowsDroppedByWatermark counts dropped PARTIAL-AGGREGATE rows,
            not input rows: the late filter runs above the map-side
            partial aggregation, so its unit is (batch, window) groups
            — measured: 3331 late input rows in 3329 distinct windows
            reported exactly 3329. The oracle therefore counts DISTINCT
            late (batch, window) pairs. Precondition: each batch file
            scans as one task (files ≪ maxPartitionBytes at every test
            SF), so per-task partials equal per-batch distinct windows.

    A Spark regression in either boundary, in the late-filter lag, or
    in the drop counter's grain flips a counter and fails the hash.
    Eager-execution note: the replay runs at plan-construction time in
    a per-(sf, pid) work dir (atexit-cleaned)."""
    from myserver_datawarehouse_spark.sources.tables import load_table

    work = _pid_tmpdir("msdw_stream_wm_audit", sf_dir)
    emitted, dropped = SJ.watermark_audit_stream(spark, sf_dir, work)
    total = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .count()
    )
    return emitted.agg(
        F.count(F.lit(1)).cast("long").alias("n_windows_emitted"),
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_rows_emitted"),
    ).select(
        "n_windows_emitted",
        "n_rows_emitted",
        F.lit(dropped).cast("long").alias("n_rows_dropped"),
        F.lit(total).cast("long").alias("n_rows_total"),
    )


def _streaming_watermark_audit_sql() -> str:
    from myserver_datawarehouse_spark.streaming.jobs import (
        WATERMARK_AUDIT_BATCHES as NB,
        WATERMARK_AUDIT_DELAY_MIN as D,
    )

    return f"""
WITH r AS (
  SELECT CAST(ts AS TIMESTAMP) AS ts, event_id % {NB} AS b
  FROM events WHERE ts IS NOT NULL
),
bm AS (SELECT b, MAX(ts) AS m FROM r GROUP BY 1),
wm AS (
  SELECT b,
         MAX(m) OVER (ORDER BY b
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
           - INTERVAL {D} MINUTE AS late_wm
  FROM bm
),
flags AS (
  SELECT r.ts, r.b,
         date_trunc('minute', r.ts) + INTERVAL 1 MINUTE AS w_end,
         w.late_wm
  FROM r JOIN wm w USING (b)
),
final_wm AS (SELECT MAX(ts) - INTERVAL {D} MINUTE AS fw FROM r),
surv AS (SELECT * FROM flags WHERE late_wm IS NULL OR w_end > late_wm),
wins AS (
  SELECT date_trunc('minute', ts) AS w_start, COUNT(*) AS n,
         MAX(w_end) AS w_end
  FROM surv GROUP BY 1
),
em AS (SELECT wins.* FROM wins, final_wm WHERE w_end <= fw)
SELECT CAST(COUNT(*) AS BIGINT) AS n_windows_emitted,
       CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_rows_emitted,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM
          (SELECT DISTINCT b, w_end FROM flags
           WHERE late_wm IS NOT NULL AND w_end <= late_wm)
       ) AS n_rows_dropped,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM r) AS n_rows_total
FROM em
"""


STREAMING_WATERMARK_AUDIT_SQL = _streaming_watermark_audit_sql()


def streaming_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log applied as a stream (insert/update/delete with tombstone
    precedence — see streaming/jobs.cdc_apply_stream): after the drain,
    the published target minus tombstones must equal the net effect of
    the log — survivors of the GDPR-cohort delete with purchase values
    bumped — which the oracle recomputes directly from the raw source.
    A lost delete (resurrected row), a replayed update, or an
    order-dependent apply all shift a class total and flip the hash.

    Eager-execution, per-(sf, pid) work dir (same conventions as
    streaming_upsert_merge); the returned frame re-reads the target."""
    from myserver_datawarehouse_spark.operators.merge import drop_table

    work = _pid_tmpdir("msdw_stream_cdc", sf_dir)
    shutil.rmtree(os.path.join(work, "ckpt"), ignore_errors=True)
    drop_table(os.path.join(work, "target"))
    target = SJ.cdc_apply_stream(spark, sf_dir, work)
    return (
        spark.read.parquet(target)
        .filter(F.col("op") != "D")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            _sum_value(),
        )
        .orderBy("event_type")
    )


def _cdc_apply_sql() -> str:
    from myserver_datawarehouse_spark.plans.relational import (
        CDF_UPDATE_BUMP,
        ERASURE_MOD,
    )

    return f"""
SELECT event_type,
       COUNT(*) AS n_rows,
       CAST(ROUND(SUM(CAST(
           CASE WHEN event_type = 'purchase'
                THEN value + {CDF_UPDATE_BUMP} ELSE value END
           AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value
FROM events
WHERE user_id % {ERASURE_MOD} != 0
GROUP BY event_type
ORDER BY event_type
"""


STREAMING_CDC_APPLY_SQL = _cdc_apply_sql()


def streaming_cdc_replication(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CDC producer→consumer contract, end-to-end: primary publishes
    v1→v2 via WAP, `table_changes` EXTRACTS the feed, the streaming
    apply CONSUMES it into a replica, and the adjudicated output
    proves replica ≡ primary@v2 two ways — the per-event-type rollup
    of the replica (oracle recomputes v2 from the raw source by the
    same predicates) and `n_mismatch`, a null-safe full-outer row diff
    between replica and v2 that must be 0 on every row (a lost
    tombstone, a replayed update, or a dropped insert makes it
    positive and flips the hash).

    Eager-execution, per-(sf, pid) work dir (the streaming_upsert_merge
    convention); the returned frame re-reads both tables."""
    from myserver_datawarehouse_spark.operators.merge import (
        drop_table,
        read_version,
    )

    work = _pid_tmpdir("msdw_stream_cdcrep", sf_dir)
    shutil.rmtree(os.path.join(work, "ckpt"), ignore_errors=True)
    shutil.rmtree(os.path.join(work, "primary"), ignore_errors=True)
    drop_table(os.path.join(work, "replica"))
    replica_path, primary, v2 = SJ.cdc_replicate_stream(
        spark, sf_dir, work
    )
    replica = (
        spark.read.parquet(replica_path)
        .filter(F.col("op") != "D")
        .select("event_id", "user_id", "event_type", "value")
        .alias("r")
    )
    v2df = read_version(spark, primary, v2).alias("p")
    same = (
        F.col("r.user_id").eqNullSafe(F.col("p.user_id"))
        & F.col("r.event_type").eqNullSafe(F.col("p.event_type"))
        & F.col("r.value").eqNullSafe(F.col("p.value"))
    )
    diff = (
        replica.join(
            v2df, F.col("r.event_id") == F.col("p.event_id"), "full_outer"
        )
        .filter(
            F.col("r.event_id").isNull()
            | F.col("p.event_id").isNull()
            | ~same
        )
        .agg(F.count(F.lit(1)).alias("n_mismatch"))
    )
    return (
        replica.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            _sum_value(),
        )
        .crossJoin(F.broadcast(diff))
        .select("event_type", "n_rows", "sum_value", "n_mismatch")
        .orderBy("event_type")
    )


def _cdc_replication_sql() -> str:
    from myserver_datawarehouse_spark.plans.relational import (
        CDF_INSERT_MOD,
        CDF_INSERT_OFFSET,
        CDF_UPDATE_BUMP,
        ERASURE_MOD,
    )

    return f"""
WITH v2 AS (
  SELECT event_id, user_id, event_type,
         CASE WHEN event_type = 'purchase'
              THEN value + {CDF_UPDATE_BUMP} ELSE value END AS value
  FROM events WHERE user_id % {ERASURE_MOD} != 0
  UNION ALL
  SELECT event_id + {CDF_INSERT_OFFSET}, user_id, event_type, value
  FROM events
  WHERE user_id % {ERASURE_MOD} != 0
    AND event_id % {CDF_INSERT_MOD} = 0
)
SELECT event_type,
       COUNT(*) AS n_rows,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
         AS sum_value,
       CAST(0 AS BIGINT) AS n_mismatch
FROM v2
GROUP BY event_type
ORDER BY event_type
"""


STREAMING_CDC_REPLICATION_SQL = _cdc_replication_sql()


def streaming_evolved_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest into a table whose partition spec EVOLVED
    mid-lifecycle (the 13th §2.12 shape): seed = latest-per-key over
    the even-event_id half (unpartitioned layout), spec evolves to
    (event_type), the odd half streams in via foreachBatch ->
    evolution.evolved_merge. The adjudicated output is the final
    logical table read through the spec-union reader — identical to
    the batch latest-per-key dedup over ALL events (the associative
    event-time fold makes it batch-split invariant), PLUS a
    `seed_files_untouched` flag proving the pre-evolution data files
    were never rewritten (every micro-batch's superseded seed rows
    died by equality-delete sidecar, not a rewrite).

    Same eager-at-construction bench note as streaming_upsert_merge;
    per-(sf, pid) work dir, cleared up front."""
    from myserver_datawarehouse_spark.operators import evolution as EV
    from myserver_datawarehouse_spark.operators import merge as M

    work = _fresh_work("msdw_stream_evolve", sf_dir)
    root = SJ.evolved_upsert_stream(spark, sf_dir, work)
    _versions, current = M.published_versions(root)
    vdir = os.path.join(root, current)
    with open(os.path.join(work, "seed_inodes.json")) as fh:
        seed_before = {k: int(v) for k, v in json.load(fh).items()}
    seed_after = SJ._seed_inodes(vdir)
    has_sidecar = os.path.isdir(
        os.path.join(EV._layout_dir(vdir, 0), "_deletes")
    )
    # Every seed data file survives N merges + vacuums with the SAME
    # inode (pure hardlink carry), and the superseded rows' removal is
    # represented by an equality-delete sidecar.
    flag = F.lit(
        bool(seed_before) and seed_after == seed_before and has_sidecar
    ).alias("seed_files_untouched")
    return (
        EV.read_evolved(spark, root)
        .select("user_id", "event_type", "event_id", "ts", "value", flag)
        .orderBy("user_id", "event_type")
    )


STREAMING_EVOLVED_UPSERT_SQL = """
WITH ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, event_type, event_id, ts, value,
       TRUE AS seed_files_untouched
FROM ranked WHERE rn = 1 ORDER BY user_id, event_type
"""


def streaming_compaction_race(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Compaction racing a live stream (15th §2.12 variant):
    foreachBatch evolved-merge ingest with
    an injected-CRASH compaction after batch 1, a REAL mid-stream
    compaction after batch 2, and state-routed plain-path merges after
    it (streaming/jobs.compaction_race_stream). Adjudicated output =
    the final logical table (== the batch latest-per-key fold — any
    row lost or duplicated by the crash, the compaction, or the layout
    switch flips the hash) + the run's maintenance flags: the crashed
    commit left the published version intact, a later batch streamed
    over the evolved table before the real compaction collapsed the
    specs, and at least one post-compaction batch took the plain
    fast path.

    Same eager-at-construction bench note as streaming_upsert_merge;
    per-(sf, pid) work dir."""
    from myserver_datawarehouse_spark.operators import merge as M

    work = _fresh_work("msdw_stream_race", sf_dir)
    root = SJ.compaction_race_stream(spark, sf_dir, work)
    with open(os.path.join(work, "race_flags.json")) as fh:
        flags = json.load(fh)
    ok = F.lit(
        bool(flags["crash_left_version_intact"])
        and bool(flags["stream_survived_crash"])
        and bool(flags["compaction_collapsed_specs"])
        and flags["plain_path_batches"] >= 1
    ).alias("maintenance_contract_held")
    return (
        M.read_published(spark, root)
        .select("user_id", "event_type", "event_id", "ts", "value", ok)
        .orderBy("user_id", "event_type")
    )


STREAMING_COMPACTION_RACE_SQL = """
WITH ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, event_type, event_id, ts, value,
       TRUE AS maintenance_contract_held
FROM ranked WHERE rn = 1 ORDER BY user_id, event_type
"""


def streaming_outer_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream join (14th §2.12 variant): click ->
    purchase attribution where clicks with NO purchase in the hour
    emit a null-extended row ONLY once the watermark proves no match
    can still arrive. The emitted set is a deterministic function of
    (data, batch split, delay, range), adjudicated against the
    calibrated model:

      matches   — exactly the inner-join pair set (emit on arrival);
      null rows — unmatched clicks with click_ts + RANGE < W_final,
                  where W_final = least(max click_ts, max buy_ts) -
                  DELAY (global watermark = min over the two
                  watermarked inputs; availableNow's final no-data
                  batch flushes the closed windows) — calibrated
                  empirically, exact at every test SF;
      withheld  — unmatched clicks whose window the watermark never
                  closed are ABSENT (still buffered at stop): the
                  honest outer-join contract, pinned by the oracle
                  REQUIRING their absence.

    Eager-execution note: the replay runs at plan construction in a
    per-(sf, pid) work dir."""
    work = _pid_tmpdir("msdw_stream_outer_attr", sf_dir)
    out = SJ.outer_attribution_stream(spark, sf_dir, work)
    # buy_id rides as STRING: a nullable bigint degrades to float64
    # through Arrow/pandas on the compare path ('4985.0' vs '4985'
    # hash mismatch); the string form is null-safe and lossless.
    return out.select(
        "user_id", "click_id", F.col("buy_id").cast("string").alias("buy_id")
    ).orderBy("user_id", "click_id", "buy_id")


def _outer_attribution_sql() -> str:
    from myserver_datawarehouse_spark.streaming.jobs import (
        OUTER_ATTR_DELAY_MIN as D,
        OUTER_ATTR_RANGE_MIN as R,
    )

    return f"""
WITH ev AS (
  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
  FROM events
  WHERE ts IS NOT NULL AND event_type IN ('click', 'purchase')
),
c AS (
  SELECT user_id, ts AS cts, event_id AS click_id
  FROM ev WHERE event_type = 'click'
),
b AS (
  SELECT user_id AS bu, ts AS bts, event_id AS buy_id
  FROM ev WHERE event_type = 'purchase'
),
wm AS (
  SELECT least(
           (SELECT MAX(ts) FROM ev WHERE event_type = 'click'),
           (SELECT MAX(ts) FROM ev WHERE event_type = 'purchase')
         ) - INTERVAL {D} MINUTE AS w
),
matches AS (
  SELECT c.user_id, c.click_id, CAST(b.buy_id AS VARCHAR) AS buy_id
  FROM c JOIN b
    ON c.user_id = b.bu
   AND b.bts >= c.cts
   AND b.bts <= c.cts + INTERVAL {R} MINUTE
),
nulls AS (
  SELECT c.user_id, c.click_id, CAST(NULL AS VARCHAR) AS buy_id
  FROM c CROSS JOIN wm
  WHERE c.cts + INTERVAL {R} MINUTE < wm.w
    AND NOT EXISTS (
      SELECT 1 FROM b
      WHERE b.bu = c.user_id AND b.bts >= c.cts
        AND b.bts <= c.cts + INTERVAL {R} MINUTE
    )
)
SELECT * FROM matches
UNION ALL
SELECT * FROM nulls
ORDER BY user_id, click_id, buy_id
"""


STREAMING_OUTER_ATTRIBUTION_SQL = _outer_attribution_sql()


def streaming_bloom_maintained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-indexed table under continuous ingest (16th §2.12
    variant): the manifest-root upsert stream writing into a table
    whose publish registered a per-file `event_id` bloom sidecar —
    every micro-batch merge carries the index incrementally (hardlink-
    carried partitions keep their bloom rows verbatim, rewritten files
    get one fresh pass) with vacuum interleaved between batches
    (streaming/jobs.bloom_maintained_stream). Adjudicated output = the
    final logical table (the batch latest-per-key fold — identical
    exactly-once contract to the other upsert streams) + the bloom
    lifecycle flags: the final version still carries a complete
    sidecar (one row per data file), and a bloom-pruned point lookup
    of surviving keys returns exactly the full-scan rows (the
    zero-false-negative contract, end to end through N commits).

    Same eager-at-construction bench note as streaming_upsert_merge;
    per-(sf, pid) work dir."""
    from myserver_datawarehouse_spark.operators import merge as M

    work = _fresh_work("msdw_stream_bloom", sf_dir)
    root = SJ.bloom_maintained_stream(spark, sf_dir, work)
    with open(os.path.join(work, "bloom_flags.json")) as fh:
        flags = json.load(fh)
    ok = F.lit(
        bool(flags["bloom_carried"])
        and bool(flags["zero_false_negatives"])
    ).alias("bloom_contract_held")
    return (
        M.read_published(spark, root)
        .select("user_id", "event_type", "event_id", "ts", "value", ok)
        .orderBy("user_id", "event_type")
    )


STREAMING_BLOOM_MAINTAINED_SQL = """
WITH ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, event_type, event_id, ts, value,
       TRUE AS bloom_contract_held
FROM ranked WHERE rn = 1 ORDER BY user_id, event_type
"""


def streaming_ivf_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming IVF index ingest (17th §2.12 variant): the batch
    `ivf_incremental_ingest_audit` contract run as a REAL micro-batch
    stream (streaming/jobs.ivf_ingest_stream) — the index seeds from
    the base corpus under the base-trained quantizer, arrivals stream
    in one micro-batch per batch_no through foreachBatch (broadcast-
    centroid map-only assignment, O(batch) ledger append — the
    standing inverted lists are never rewritten), and each arrival
    carries its drift bit (would a retrained superset quantizer pull
    it to a strictly better centroid?).

    Adjudicated output = the full (batch_no, cell) ingest ledger:
    batch_no -1 rows are the seeded base census, rows 0..2 are the
    per-micro-batch arrival census + `n_would_move` drift trajectory —
    the monitored number behind every retrain decision, now measured
    ACROSS a live ingest stream rather than in one batch pass.
    Assignment is a pure per-vector function, so the ledger is
    identical however the file source batches arrivals (batch_no is a
    data column, not the trigger id) — what makes this adjudicable
    against the batch oracle below. Same eager-at-construction bench
    note as streaming_upsert_merge; per-(sf, pid) work dir."""
    from myserver_datawarehouse_spark.plans.embeddings import (
        INGEST_BATCH_MOD,
        IVF_CENTS,
    )

    work = _fresh_work("msdw_stream_ivf", sf_dir)
    cells = SJ.ivf_ingest_stream(
        spark, sf_dir, work, cents=IVF_CENTS, batch_mod=INGEST_BATCH_MOD
    )
    return (
        spark.read.parquet(cells)
        .groupBy("batch_no", "cell")
        .agg(
            F.count(F.lit(1)).alias("n_arrivals"),
            F.sum(F.col("would_move").cast("long")).alias("n_would_move"),
        )
        .orderBy("batch_no", "cell")
    )


def _streaming_ivf_ingest_sql() -> str:
    # The assignment CTEs (e / cent_a / cent_b / asn_a / asn_b) are the
    # SHARED fragment from plans/embeddings — one source for the exact
    # rounding and tie-break rules, so this oracle and the batch
    # audit's can never drift.
    from myserver_datawarehouse_spark.plans.embeddings import (
        IVF_ASSIGN_CTES_SQL,
    )
    from myserver_datawarehouse_spark.streaming.jobs import (
        IVF_INGEST_BATCHES,
    )

    return f"""
WITH {IVF_ASSIGN_CTES_SQL},
led AS (
  SELECT a.vec_id,
         CASE WHEN a.is_batch
              THEN CAST(a.vec_id % {IVF_INGEST_BATCHES} AS INT)
              ELSE -1 END AS batch_no,
         a.cid AS cell,
         (b.b_cid <> a.cid AND b.b_cos > a.cent_cos) AS would_move
  FROM asn_a a JOIN asn_b b USING (vec_id)
)
SELECT batch_no, cell,
       COUNT(*) AS n_arrivals,
       CAST(SUM(CASE WHEN would_move THEN 1 ELSE 0 END) AS BIGINT)
         AS n_would_move
FROM led
GROUP BY batch_no, cell
ORDER BY batch_no, cell
"""


STREAMING_IVF_INGEST_SQL = _streaming_ivf_ingest_sql()


def streaming_near_dup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dup ingest (18th §2.12 variant): the crawl-ingest
    MinHash-LSH dedup service run as a REAL micro-batch stream
    (streaming/jobs.near_dup_ingest_stream) — the banded signature
    index seeds from the standing corpus, arrival documents stream in
    one micro-batch per batch_no, each batch appends O(batch)
    signatures to the index, probes the band buckets, exact-Jaccard
    verifies its candidates against the stored shingle-hash sets, and
    appends the surviving dup edges to a ledger.

    Adjudicated output = the full dup-edge ledger (batch_no, doc_new,
    doc_partner, jaccard): partner precedence (base < earlier batch <
    same batch with smaller doc_id) makes every edge a pure function
    of the data, not of trigger boundaries — what makes a LIVE ingest
    stream adjudicable against the batch oracle below. Same
    eager-at-construction bench note as streaming_upsert_merge;
    per-(sf, pid) work dir."""
    work = _fresh_work("msdw_stream_neardup", sf_dir)
    ledger = SJ.near_dup_ingest_stream(spark, sf_dir, work)
    return (
        SJ._read_tree(spark, ledger)
        .select("batch_no", "doc_new", "doc_partner", "jaccard")
        .orderBy("batch_no", "doc_new", "doc_partner")
    )


def _streaming_near_dup_ingest_sql() -> str:
    # Signature CTEs (toks / sh / mhd / mhb / sig / bands) are the
    # SHARED fragments from plans/llm_text — one source for shingle,
    # minhash, and band-key rules, so this oracle can never drift from
    # the batch near-dup family's.
    from myserver_datawarehouse_spark.plans.llm_text import (
        _BAND_KEYS_SQL,
        _MH_BASE_SQL,
        _MINHASH_SQL,
        _SH_SQL,
        _TOKS_SQL,
        _d_hash60,
        INCR_MOD,
        JACCARD_TAU,
    )
    from myserver_datawarehouse_spark.streaming.jobs import (
        NEAR_DUP_INGEST_BATCHES,
    )

    return f"""
WITH toks AS ({_TOKS_SQL}),
sh AS ({_SH_SQL}),
mhd AS (SELECT doc_id, list_distinct([{_d_hash60('x')} FOR x IN sh]) AS mh
        FROM sh),
mhb AS (SELECT doc_id, {_MH_BASE_SQL} AS mh FROM sh),
sig AS (SELECT doc_id, {_MINHASH_SQL} AS sig FROM mhb),
bands AS (
  SELECT doc_id,
         CASE WHEN doc_id % {INCR_MOD} = 0
              THEN CAST((doc_id // {INCR_MOD})
                        % {NEAR_DUP_INGEST_BATCHES} AS INT)
              ELSE -1 END AS batch_no,
         unnest({_BAND_KEYS_SQL}) AS bk
  FROM sig
),
cand AS (
  SELECT DISTINCT a.batch_no, a.doc_id AS doc_new, b.doc_id AS doc_partner
  FROM bands a JOIN bands b ON a.bk = b.bk
  WHERE a.batch_no >= 0
    AND (b.batch_no < a.batch_no
         OR (b.batch_no = a.batch_no AND b.doc_id < a.doc_id))
),
pairs AS (
  SELECT c.batch_no, c.doc_new, c.doc_partner,
         ROUND(CAST(len(list_intersect(sa.mh, sb.mh)) AS DOUBLE)
               / CAST(len(sa.mh) + len(sb.mh)
                      - len(list_intersect(sa.mh, sb.mh)) AS DOUBLE),
               6) AS jaccard
  FROM cand c
  JOIN mhd sa ON sa.doc_id = c.doc_new
  JOIN mhd sb ON sb.doc_id = c.doc_partner
)
SELECT batch_no, doc_new, doc_partner, jaccard FROM pairs
WHERE jaccard >= {JACCARD_TAU}
ORDER BY batch_no, doc_new, doc_partner
"""


STREAMING_NEAR_DUP_INGEST_SQL = _streaming_near_dup_ingest_sql()


def streaming_mix_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming language-mix drift monitor (19th §2.12 variant): the
    ingest-health chart run as a REAL micro-batch stream
    (streaming/jobs.mix_drift_stream) — seed shares from the standing
    corpus, one micro-batch per arrival cohort, each reporting its
    Laplace-smoothed per-language token share and PSI contribution
    against the seed. Batches depend only on the seed (never on each
    other), so the ledger is a pure function of the data and
    adjudicates against the batch oracle below. Same
    eager-at-construction bench note as streaming_upsert_merge;
    per-(sf, pid) work dir."""
    work = _fresh_work("msdw_stream_mixdrift", sf_dir)
    ledger = SJ.mix_drift_stream(spark, sf_dir, work)
    return (
        SJ._read_tree(spark, ledger)
        .select(
            "batch_no",
            "lang",
            "batch_tokens",
            "p_batch",
            "p_seed",
            "psi_term",
        )
        .orderBy("batch_no", "lang")
    )


def _streaming_mix_drift_sql() -> str:
    from myserver_datawarehouse_spark.plans.llm_text import (
        _NORM_SQL,
        INCR_MOD,
    )
    from myserver_datawarehouse_spark.streaming.jobs import (
        MIX_DRIFT_BATCHES,
    )

    return f"""
WITH per_doc AS (
  SELECT doc_id, lang,
         CAST(len(string_split({_NORM_SQL}, ' ')) AS BIGINT) AS n_tok
  FROM documents
),
seed_counts AS (
  SELECT lang, CAST(SUM(n_tok) AS BIGINT) AS seed_tokens
  FROM per_doc WHERE doc_id % {INCR_MOD} != 0 GROUP BY 1
),
seed AS (
  SELECT lang, seed_tokens, n_langs,
         (seed_tokens + 1) / CAST(seed_total + n_langs AS DOUBLE)
           AS p_seed
  FROM seed_counts,
       (SELECT CAST(SUM(seed_tokens) AS BIGINT) AS seed_total,
               COUNT(*) AS n_langs
        FROM seed_counts)
),
batch_counts AS (
  SELECT CAST((doc_id // {INCR_MOD}) % {MIX_DRIFT_BATCHES} AS INT)
           AS batch_no,
         lang, CAST(SUM(n_tok) AS BIGINT) AS batch_tokens
  FROM per_doc WHERE doc_id % {INCR_MOD} = 0 GROUP BY 1, 2
),
batch_tot AS (
  SELECT batch_no, CAST(SUM(batch_tokens) AS BIGINT) AS batch_total
  FROM batch_counts GROUP BY 1
),
grid AS (
  SELECT t.batch_no, s.lang, s.p_seed, s.n_langs, t.batch_total,
         COALESCE(c.batch_tokens, 0) AS batch_tokens
  FROM batch_tot t CROSS JOIN seed s
  LEFT JOIN batch_counts c
    ON c.batch_no = t.batch_no AND c.lang = s.lang
)
SELECT batch_no, lang, batch_tokens,
       ROUND((batch_tokens + 1)
             / CAST(batch_total + n_langs AS DOUBLE), 6) AS p_batch,
       ROUND(p_seed, 6) AS p_seed,
       ROUND(ROUND(((batch_tokens + 1)
                    / CAST(batch_total + n_langs AS DOUBLE) - p_seed)
             * ln(((batch_tokens + 1)
                   / CAST(batch_total + n_langs AS DOUBLE)) / p_seed),
             12), 6) AS psi_term
FROM grid
ORDER BY batch_no, lang
"""


STREAMING_MIX_DRIFT_SQL = _streaming_mix_drift_sql()


def streaming_curation_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming cross-modal curation ledger (20th §2.12 variant): the
    cross_modal_curation keep/drop contract run as a LIVE ingest
    service (streaming/jobs.curation_ledger_stream) — all four
    modality indexes (text MinHash-LSH, image pHash, audio window
    fingerprints, video frame fingerprints) seed from the standing
    corpus, arrival documents stream in one micro-batch per batch_no,
    and every arrival gets a keep/drop verdict with '+'-joined
    modality provenance and its distinct dup-partner count.

    Adjudicated output = the full arrival ledger (batch_no, doc_id,
    verdict, retired_by, n_partners): the partner-precedence rule
    (base < earlier batch < same batch with smaller doc_id — the
    near-dup ingest rule generalized to modality edges) makes every
    verdict a pure function of the data, not of trigger boundaries —
    what makes a live curation stream adjudicable against the batch
    oracle below, which recomputes all FOUR batch pair graphs and
    re-orients each edge at its later endpoint. Keep-first semantics:
    an arrival drops iff it duplicates ANY predecessor in any
    modality (the streaming analog of the batch query's transitive
    min-label collapse — the survivor is always the earliest-indexed
    member). Same eager-at-construction bench note as
    streaming_upsert_merge; per-(sf, pid) work dir."""
    work = _fresh_work("msdw_stream_curation", sf_dir)
    ledger = SJ.curation_ledger_stream(spark, sf_dir, work)
    return (
        SJ._read_tree(spark, ledger)
        .select("batch_no", "doc_id", "verdict", "retired_by", "n_partners")
        .orderBy("batch_no", "doc_id")
    )


def _streaming_curation_ledger_sql() -> str:
    # The four modality pair graphs are the SHARED oracle fragments
    # from plans/llm_text + plans/multimodal — single-sourced with the
    # batch near-dup family and cross_modal_curation, so this oracle
    # can never drift from theirs. Precedence: every edge is oriented
    # at its LATER endpoint (the arrival whose probe found it).
    from myserver_datawarehouse_spark.plans import llm_text as LTX
    from myserver_datawarehouse_spark.plans.multimodal import (
        NEAR_DUP_IMAGE_PHASH_SQL,
        NEAR_DUP_VIDEO_FRAMES_SQL,
        _audio_pair_sql,
    )
    from myserver_datawarehouse_spark.streaming.jobs import (
        CURATION_BATCHES,
    )

    audio_src = _audio_pair_sql(
        "SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1"
    )
    later_a = "(ba.b > bb.b) OR (ba.b = bb.b AND u.doc_a > u.doc_b)"
    return f"""
WITH tsrc AS ({LTX.NEAR_DUP_MINHASH_LSH_SQL}),
isrc AS ({NEAR_DUP_IMAGE_PHASH_SQL}),
asrc AS ({audio_src}),
vsrc AS ({NEAR_DUP_VIDEO_FRAMES_SQL}),
upairs AS (
  SELECT doc_a, doc_b, 'text' AS modality FROM tsrc
  UNION
  SELECT doc_a, doc_b, 'image' AS modality FROM isrc
  UNION
  SELECT doc_a, doc_b, 'audio' AS modality FROM asrc
  UNION
  SELECT doc_a, doc_b, 'video' AS modality FROM vsrc
),
bno AS (
  SELECT doc_id,
         CASE WHEN doc_id % {LTX.INCR_MOD} = 0
              THEN CAST((doc_id // {LTX.INCR_MOD})
                        % {CURATION_BATCHES} AS INT)
              ELSE -1 END AS b
  FROM documents
),
evid AS (
  SELECT CASE WHEN {later_a} THEN u.doc_a ELSE u.doc_b END AS doc_id,
         CASE WHEN {later_a} THEN u.doc_b ELSE u.doc_a END AS partner,
         u.modality
  FROM upairs u
  JOIN bno ba ON ba.doc_id = u.doc_a
  JOIN bno bb ON bb.doc_id = u.doc_b
),
arr AS (SELECT doc_id, b AS batch_no FROM bno WHERE b >= 0),
agg AS (
  SELECT e.doc_id,
         COUNT(DISTINCT e.partner) AS n_partners,
         MAX(CASE WHEN e.modality = 'text' THEN 1 ELSE 0 END) AS ht,
         MAX(CASE WHEN e.modality = 'image' THEN 1 ELSE 0 END) AS hi,
         MAX(CASE WHEN e.modality = 'audio' THEN 1 ELSE 0 END) AS ha,
         MAX(CASE WHEN e.modality = 'video' THEN 1 ELSE 0 END) AS hv
  FROM evid e SEMI JOIN arr a ON a.doc_id = e.doc_id
  GROUP BY e.doc_id
)
SELECT a.batch_no, a.doc_id,
       CASE WHEN g.doc_id IS NULL THEN 'keep' ELSE 'drop' END AS verdict,
       CASE WHEN g.doc_id IS NULL THEN 'none'
            ELSE concat_ws('+',
                   CASE WHEN g.ht = 1 THEN 'text' END,
                   CASE WHEN g.hi = 1 THEN 'image' END,
                   CASE WHEN g.ha = 1 THEN 'audio' END,
                   CASE WHEN g.hv = 1 THEN 'video' END)
       END AS retired_by,
       COALESCE(g.n_partners, 0) AS n_partners
FROM arr a LEFT JOIN agg g ON g.doc_id = a.doc_id
ORDER BY a.batch_no, a.doc_id
"""


STREAMING_CURATION_LEDGER_SQL = _streaming_curation_ledger_sql()
