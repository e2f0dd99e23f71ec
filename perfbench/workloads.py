"""The benchmark's workloads: what an operation is, how the seed picks
the inputs, and how each operation's output is checked.

An operation is one hourly tick (`pipeline.hourly_pipeline`, the `noop`
sink, `pipeline.validate`) or one registry query run through the `noop`
sink. The seed draws the events table (see `datagen`) and, for the hourly
workload, the ticked hours. A run's list of operations has a length that
follows from its seconds (`OP_SECONDS` is the measured cost of one
operation on a 4-core host), so every run of a workload does the same
amount of work and `wall_s` measures how fast it is done.
"""

from __future__ import annotations

import math
import os
import random
import re
from datetime import datetime, timezone

import duckdb

import datagen

HOUR = 3600
DAY = 86_400


def _ts(epoch_s: int) -> str:
    """UTC wall-clock literal for an epoch second."""
    return datetime.fromtimestamp(epoch_s, timezone.utc).strftime("%Y-%m-%d %H:%M:%S")


# ----------------------------------------------------------------- checks


def _norm(v):
    """A comparable cell: floats compare with a tolerance, NaN and NULL
    as themselves, everything else by its string form."""
    if v is None:
        return ("null",)
    if isinstance(v, float):
        return ("nan",) if math.isnan(v) else ("f", v)
    return ("s", str(v))


def _rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in order], sorted(
        (tuple(_norm(r[i]) for i in order) for r in rows), key=repr
    )


def _same(a, b) -> bool:
    if a[0] == "f" and b[0] == "f":
        return math.isclose(a[1], b[1], rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def compare(columns, rows, oracle) -> str | None:
    """None when Spark's rows match the oracle's (columns, rows) in any
    row order, else a one-line description of the first mismatch.
    `oracle` None means rows-only: nothing to compare."""
    if oracle is None:
        return None
    s_cols, s_rows = _rows(columns, rows)
    o_cols, o_rows = oracle
    if s_cols != o_cols:
        return f"columns {s_cols} != oracle {o_cols}"
    if len(s_rows) != len(o_rows):
        return f"{len(s_rows)} rows != oracle {len(o_rows)}"
    for a, b in zip(s_rows, o_rows):
        if len(a) != len(b) or not all(_same(x, y) for x, y in zip(a, b)):
            return f"row {a} != oracle {b}"
    return None


class Oracle:
    """DuckDB over the run's input table; results are cached per SQL
    text, since the input never changes in a run."""

    def __init__(self, data_dir: str):
        self.con = duckdb.connect()
        for table in ("events", "orders"):
            path = os.path.join(data_dir, f"{table}.parquet")
            self.con.execute(
                f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
        self._cache: dict[str, tuple] = {}

    def rows(self, sql: str):
        if sql not in self._cache:
            rel = self.con.sql(sql)
            self._cache[sql] = _rows(list(rel.columns), rel.fetchall())
        return self._cache[sql]


# -------------------------------------------------------------- workloads


class HourlyEtl:
    """The paper's hourly fact ETL. Set-up preloads the fact table with
    the first `PRELOAD_DAYS` days of events; the timed ticks then walk
    consecutive closed hours after that, replaying an earlier hour on
    about one tick in six (retries and overlapping windows). Set-up ends
    with untimed ticks of the hours just before the first timed one,
    which pay the process's per-plan code generation (about 13 s on a
    4-core host for the first) and JIT warm-up. Two, because with one
    the next four ticks still sped up from about 5.5 s to 4.3 s."""

    # A warm tick on a 4-core host.
    OP_SECONDS = 5.0
    MIN_OPS = 4
    PRELOAD_DAYS = 20
    WARM_UP_TICKS = 2
    REPLAY_P = 1 / 6
    events_sf = 0.1  # ~140 events per hour

    def __init__(self, engine):
        self.E = engine

    def prepare(self, spark, data_dir: str, work_dir: str) -> None:
        from pyspark.sql import functions as F

        E = self.E
        self.data_dir, self.work_dir = data_dir, work_dir
        hist = (
            E.load_table(spark, data_dir, "events")
            .filter(F.col("ts") < F.timestamp_seconds(
                F.lit(datagen.EVENTS_EPOCH_S + self.PRELOAD_DAYS * DAY)))
            .withColumn("date_id", E.keys.date_id("ts"))
            .withColumn("time_id", E.keys.time_id("ts"))
            .withColumn("rounded_time_id", E.keys.rounded_time_id(F.col("time_id")))
        )
        E.merge.merge_upsert(spark, work_dir + "/fact_events", hist,
                             keys=["event_id"], partition_by=["date_id"])

    def warm_up(self, spark, plan: list[int], tracer) -> None:
        for k in range(self.WARM_UP_TICKS, 0, -1):
            self.run(spark, plan[0] - k * HOUR, tracer)

    @classmethod
    def plan(cls, seed: int, n_ops: int) -> list[int]:
        """The hour (epoch s) each tick processes."""
        rng = random.Random(seed)
        first = datagen.EVENTS_EPOCH_S + cls.PRELOAD_DAYS * DAY + cls.WARM_UP_TICKS * HOUR
        last_start = datagen.EVENTS_EPOCH_S + datagen.EVENTS_DAYS * DAY - n_ops * HOUR
        h = first + HOUR * rng.randrange((last_start - first) // HOUR)
        hours: list[int] = []
        for _ in range(n_ops):
            if hours and rng.random() < cls.REPLAY_P:
                hours.append(rng.choice(hours))
            else:
                hours.append(h)
                h += HOUR
        return hours

    def run(self, spark, hour: int, tracer):
        """One tick; returns the collected `validate` rows."""
        E = self.E
        df = E.pipeline.hourly_pipeline(spark, self.data_dir, self.work_dir, hour)
        with tracer.span("sink.execute"):
            df.write.format("noop").mode("overwrite").save()
            return E.pipeline.validate(df).collect()

    def check(self, spark, hour: int, rows, oracle: Oracle) -> str | None:
        """`validate` must find the hour complete and free of nulls, and
        its whole row must equal the flagship oracle chain's validation
        block for that hour."""
        (row,) = rows
        if not row["is_complete"] or row["null_value_count"] != 0:
            return f"validate: is_complete={row['is_complete']} nulls={row['null_value_count']}"
        return compare(list(row.asDict()), rows, oracle.rows(self.oracle_sql(hour)))

    def oracle_sql(self, hour: int) -> str:
        """The flagship validation oracle with its anchor hour pinned to
        `hour` instead of the busiest hour of the table."""
        pinned, n = re.subn(
            r"hb AS \(.*?\n\),",
            f"hb AS (SELECT TIMESTAMP '{_ts(hour)}' AS h),",
            self.E.flagship.PIPELINE_VALIDATION_SQL, count=1, flags=re.S)
        if n != 1:
            raise RuntimeError("flagship oracle has no `hb` anchor CTE to pin")
        return pinned

    def batch_rows(self, oracle: Oracle, hour: int) -> int:
        return oracle.con.execute(
            f"SELECT count(*) FROM events WHERE ts >= TIMESTAMP '{_ts(hour)}' "
            f"AND ts < TIMESTAMP '{_ts(hour + HOUR)}'").fetchone()[0]


class StreamIngest:
    """Registry queries that write beside reading, each run through the
    `noop` sink, in a fixed order; the seed draws the input tables.

    Five queries of the `streaming_plans` family: availableNow drains and
    foreachBatch merges whose cost is eager construction-time jobs. A
    pass over the whole family (minus its two corpus-dedup streams)
    takes about 115 s on a 4-core host, and its table-maintaining streams
    (partition-spec evolution, bloom sidecars) cost 15-22 s each on first
    use in a process, so no run fits them. Two short queries stand in
    for the layers those streams would have carried:
    `file_skipping_scan_audit` writes a clustered table and prunes it
    through `sources.files.file_stats`, and `equi_depth_histogram` ranks
    orders through `operators.ranking.global_rank`, which cuts its
    lineage with `session.materialize`.

    Set-up ends with one untimed run of a sixth streaming query,
    `streaming_minute_agg`, which pays the session's streaming start-up
    (about 12 s on a 4-core host). A run makes round(seconds / OP_SECONDS)
    passes, and at least one."""

    WARM_UP = "streaming_minute_agg"
    QUERIES = (
        "streaming_dedup_counts", "streaming_session_windows",
        "streaming_restart_exactly_once", "streaming_upsert_merge",
        "streaming_cdc_apply", "file_skipping_scan_audit",
        "equi_depth_histogram",
    )
    OP_SECONDS = 28.0  # one pass
    MIN_OPS = 1
    events_sf = 0.01

    def __init__(self, engine):
        specs = {s.name: s for s in engine.registry.specs()}
        wanted = (self.WARM_UP, *self.QUERIES)
        missing = [q for q in wanted if q not in specs]
        if missing:
            raise RuntimeError(f"registry has no queries {missing}")
        self.specs = {q: specs[q] for q in wanted}

    def prepare(self, spark, data_dir: str, work_dir: str) -> None:
        self.data_dir = data_dir

    def warm_up(self, spark, plan: list[str], tracer) -> None:
        self.run(spark, self.WARM_UP, tracer)

    def plan(self, seed: int, n_passes: int) -> list[str]:
        return list(self.QUERIES) * n_passes

    def run(self, spark, query: str, tracer):
        with tracer.span("plans.construct"):
            df = self.specs[query].spark(spark, self.data_dir)
        with tracer.span("sink.execute"):
            df.write.format("noop").mode("overwrite").save()
        return df

    def check(self, spark, query: str, df, oracle: Oracle) -> str | None:
        sql = self.specs[query].oracle
        rows = df.collect()
        return compare(df.columns, rows, None if sql is None else oracle.rows(sql))


WORKLOADS = {"hourly_etl": HourlyEtl, "stream_ingest": StreamIngest}
NAMES = tuple(WORKLOADS)


def make(name: str, engine):
    return WORKLOADS[name](engine)
