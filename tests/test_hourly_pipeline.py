"""The hourly tick (pipeline.hourly_pipeline) against its DuckDB oracle on
hand-built fixtures, and its cost against the size of the fact table."""

import datetime as dt
import os
import re
import sys
from pathlib import Path

import duckdb
import pytest
from pyspark.sql import functions as F

from myserver_datawarehouse_spark import pipeline as P
from myserver_datawarehouse_spark.functions import keys as K
from myserver_datawarehouse_spark.operators import merge as M
from myserver_datawarehouse_spark.plans import flagship as FL
from myserver_datawarehouse_spark.sources.tables import load_table

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
from verify_local import compare  # noqa: E402

HOUR = 3600
DAY = 24 * HOUR
EPOCH = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)
EPOCH_S = int(EPOCH.timestamp())


def _write_events(sf_dir, rows):
    """rows: (event_id, seconds after EPOCH, event_type, value)."""
    os.makedirs(sf_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events (event_id BIGINT, ts TIMESTAMP, user_id BIGINT,"
        " event_type VARCHAR, value DOUBLE, props VARCHAR)"
    )
    con.executemany(
        "INSERT INTO events VALUES (?, ?, ?, ?, ?, NULL)",
        [
            (eid, (EPOCH + dt.timedelta(seconds=s)).replace(tzinfo=None),
             eid % 7, et, v)
            for eid, s, et, v in rows
        ],
    )
    con.execute(f"COPY events TO '{sf_dir}/events.parquet' (FORMAT parquet)")
    return con


def test_null_key_group_matches_flagship_oracle(spark, tmp_path):
    """A NULL event_type keeps its actual rows and gets no fill, as in the
    oracle, whose grid is a key-equality join: 60 'click' minutes, the
    single 'view' actual (<2 actuals: no fill) and the 3 NULL-group
    actuals, 64 rows."""
    busy = 10 * HOUR  # the busiest hour: 9 events
    rows = [
        (1, busy + 0, "click", 10.0),
        (2, busy + 600 + 5, "click", 20.0),
        (3, busy + 1800 + 30, "click", 50.0),
        (4, busy + 300, "view", 7.0),
        (5, busy + 120, None, 1.0),
        (6, busy + 1200 + 9, None, 3.0),
        (7, busy + 2400, None, 4.0),
        (8, busy + 2400 + 20, None, 6.0),
        (9, busy + 3599, "click", 30.0),
        # another hour, fewer events
        (10, busy - 2 * HOUR, "click", 99.0),
        (11, busy - 2 * HOUR + 60, None, 98.0),
    ]
    sf = str(tmp_path / "sf")
    con = _write_events(sf, rows)
    problems = compare(
        "flagship_hourly_pipeline",
        FL.flagship_hourly_pipeline(spark, sf),
        con,
        FL.FLAGSHIP_HOURLY_PIPELINE_SQL,
    )
    assert problems == []
    assert con.sql(
        f"SELECT count(*) FROM ({FL.FLAGSHIP_HOURLY_PIPELINE_SQL})"
    ).fetchone()[0] == 64


def _preload(spark, sf, fact_path, lo, hi):
    """Merge the events with ts in [lo, hi) (epoch s) into the fact table
    the way the ticks before them would have."""
    e = load_table(spark, sf, "events")
    batch = (
        e.filter((F.col("ts") >= F.timestamp_seconds(F.lit(lo)))
                 & (F.col("ts") < F.timestamp_seconds(F.lit(hi))))
        .withColumn("date_id", K.date_id("ts"))
        .withColumn("time_id", K.time_id("ts"))
        .withColumn("rounded_time_id", K.rounded_time_id(F.col("time_id")))
    )
    M.merge_upsert(spark, fact_path, batch, keys=["event_id"],
                   partition_by=["date_id"])


def _tick(spark, sf, workdir, hour):
    """Rows and Spark job count of one tick, the count taken over the
    scheduler's job-ID window, so jobs from any thread are included."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    store = spark._jsparkSession.sharedState().statusStore()
    first_exec = store.executionsCount()
    lo = int(dag.nextJobId())
    rows = [tuple(r) for r in P.hourly_pipeline(spark, sf, workdir, hour).collect()]
    jobs = int(dag.nextJobId()) - lo
    execs = store.executionsList()
    plans = [execs.apply(i).physicalPlanDescription()
             for i in range(first_exec, execs.size())]
    return rows, jobs, plans


PYTHON_NODE = re.compile(
    r"FlatMapGroupsInPandas|ArrowEvalPython|BatchEvalPython|MapInPandas")
# The hour kernel's node in a formatted plan description.
GENERATE_INLINE = re.compile(
    r"\(\d+\) Generate\nInput[^\n]*\nArguments: inline\(")


def test_tick_cost_does_not_grow_with_history(spark, tmp_path):
    """One tick over 5 days of history and one over 20 days: same output,
    same number of Spark jobs, the read-back scan of the fact table
    prunes to the hour's date_id partition, and no execution of the tick
    runs a Python worker (the hour kernel is an `inline` generator)."""
    types = ["click", "view", "buy"]
    rows = []
    for h in range(21 * 24):
        for k in range(6):
            eid = h * 6 + k
            rows.append((eid, h * HOUR + 577 * k + (h % 5) * 13,
                         types[(h + k) % 3], float((eid * 37) % 101)))
    sf = str(tmp_path / "sf")
    _write_events(sf, rows)
    hour = EPOCH_S + 20 * DAY + 10 * HOUR
    date_id = (EPOCH + dt.timedelta(days=20)).strftime("%Y%m%d")

    out = {}
    for days in (5, 20):
        workdir = str(tmp_path / f"w{days}")
        _preload(spark, sf, workdir + "/fact_events",
                 EPOCH_S + (20 - days) * DAY, EPOCH_S + 20 * DAY)
        P.hourly_pipeline(spark, sf, workdir, hour - HOUR)  # warm-up tick
        out[days] = _tick(spark, sf, workdir, hour)

    (rows5, jobs5, plans5), (rows20, jobs20, plans20) = out[5], out[20]
    assert len(rows20) == 3 * 60
    assert rows5 == rows20
    assert jobs5 == jobs20
    for plans in (plans5, plans20):
        python = [m.group() for p in plans for m in PYTHON_NODE.finditer(p)]
        assert not python, python
        kernel = [p for p in plans if GENERATE_INLINE.search(p)]
        assert kernel, "no execution ran the hour kernel"
        scans = re.findall(r"Scan parquet[^\n]*\n(?:[^\n]*\n)*?"
                           r"PartitionFilters: \[([^\n]*)\]", kernel[0])
        assert any(
            re.search(rf"date_id#\d+ >= {date_id}\b", f)
            and re.search(rf"date_id#\d+ <= {date_id}\b", f)
            for f in scans
        ), scans


@pytest.mark.parametrize("values, mean", [
    # a tie in the quotient: 65.4549735 rounds to 65.454974 in Spark's
    # double division and to 65.454973 in DuckDB's
    ((65.454973, 65.454974), 65.454974),
    # ties in the rows (interpolated values of one hourly tick):
    # each casts to DECIMAL(18,6) as ...667 in Spark and ...666 in DuckDB
    ((100.0266665, 76.7916665), 88.409167),
])
def test_validate_mean_on_a_rounding_tie_matches_the_oracle(spark, values, mean):
    """avg_value on a 6-place rounding tie equals the DuckDB oracle's:
    both sides round each row's micro-units from the same double and
    divide the exact sum."""
    rows = [("a", v, i % 2 == 1) for i, v in enumerate(values)]
    frame = spark.createDataFrame(
        rows, "event_type string, value double, is_interpolated boolean")
    con = duckdb.connect()
    con.execute("CREATE TABLE result (event_type VARCHAR, value DOUBLE,"
                " is_interpolated BOOLEAN)")
    con.executemany("INSERT INTO result VALUES (?, ?, ?)", rows)
    # the oracle's final aggregate, over `result` instead of its CTE chain
    over_result = FL.PIPELINE_VALIDATION_SQL.replace(
        FL._PIPELINE_CTE + ",", "").replace("WITH " + FL._PIPELINE_CTE, "")
    assert compare("pipeline_validation", P.validate(frame), con,
                   over_result) == []
    assert P.validate(frame).first()["avg_value"] == mean
