"""Golden interpolation fixtures (FIXTURES.md §A6, SURVEY.md §5):
interior gap, one-sided extrapolation, <2-actuals skip, NULL-key group,
equal-distance tie-break, cross-midnight fill. Hand-computed expecteds."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from myserver_datawarehouse_spark.operators import timeseries as TS

KEYS = ["src", "side"]

BASE = int(dt.datetime(2024, 3, 1, 10, 0, tzinfo=dt.timezone.utc).timestamp())
MIDNIGHT = int(dt.datetime(2024, 3, 2, 0, 0, tzinfo=dt.timezone.utc).timestamp())


def obs_df(spark, rows):
    """rows: (src, side, minute_epoch, value)"""
    return spark.createDataFrame(
        [(r[0], r[1], int(r[2]), float(r[3])) for r in rows],
        "src string, side string, minute_epoch long, value double",
    )


def as_map(df):
    return {
        (r.src, r.side, r.minute_epoch): (r.value, r.is_interpolated)
        for r in df.collect()
    }


def test_interior_gap_bracketing(spark):
    # actuals at +0min (10.0) and +3min (40.0): minutes 1,2 fill linearly
    obs = obs_df(spark, [("a", "b", BASE, 10.0), ("a", "b", BASE + 180, 40.0)])
    got = as_map(TS.interpolate_bracketing(obs, KEYS))
    assert got[("a", "b", BASE)] == (10.0, False)
    assert got[("a", "b", BASE + 60)] == (20.0, True)
    assert got[("a", "b", BASE + 120)] == (30.0, True)
    assert got[("a", "b", BASE + 180)] == (40.0, False)


def test_interior_gap_nearest2_matches_bracketing(spark):
    obs = obs_df(spark, [("a", "b", BASE, 10.0), ("a", "b", BASE + 180, 40.0)])
    assert as_map(TS.interpolate_nearest2(obs, KEYS)) == as_map(
        TS.interpolate_bracketing(obs, KEYS)
    )


def test_gapfill_missing_minutes(spark):
    obs = obs_df(spark, [("a", "b", BASE, 1.0), ("a", "b", BASE + 180, 2.0)])
    missing = sorted(
        r.minute_epoch for r in TS.gapfill_missing(obs, KEYS).collect()
    )
    assert missing == [BASE + 60, BASE + 120]


def test_one_sided_extrapolation_nearest2(spark):
    # Fixed hour grid: actuals only at minutes 0 (100.0) and 1 (160.0);
    # minute 5 extrapolates the slope (one-sided, fact_gold_price.py:317-351).
    obs = obs_df(spark, [("a", "b", BASE, 100.0), ("a", "b", BASE + 60, 160.0)])
    got = as_map(TS.interpolate_hour_nearest2(obs, KEYS, BASE))
    assert got[("a", "b", BASE + 300)] == (100.0 + 5 * 60.0, True)
    assert len(got) == 60


def test_lt2_actuals_group_skipped(spark):
    # one actual only: missing minutes stay missing (skip rule)
    obs = obs_df(spark, [("a", "b", BASE, 100.0)])
    got = as_map(TS.interpolate_hour_nearest2(obs, KEYS, BASE))
    assert got == {("a", "b", BASE): (100.0, False)}


def test_null_key_group_survives(spark):
    rows = [
        ("a", "b", int(BASE), 10.0),
        ("a", "b", int(BASE + 120), 30.0),
        ("a", None, int(BASE), 1.0),
        ("a", None, int(BASE + 120), 3.0),
    ]
    obs = spark.createDataFrame(
        rows, "src string, side string, minute_epoch long, value double"
    )
    got = as_map(TS.interpolate_nearest2(obs, KEYS))
    assert got[("a", None, BASE + 60)] == (2.0, True)
    assert got[("a", "b", BASE + 60)] == (20.0, True)


def test_equal_distance_tiebreak_prefers_earlier(spark):
    # missing minute 2 sits exactly between actuals at 0 (10.0), 1 (20.0),
    # 3 (90.0), 4 (70.0): nearest-2 candidates at distance 60 are minutes
    # 1 and 3 — both picked; blend across [1, 3] gives 55.0. The stable
    # tie-break (earlier first) sets t1=minute1, matching the reference's
    # np.argsort order.
    obs = obs_df(
        spark,
        [
            ("a", "b", BASE, 10.0),
            ("a", "b", BASE + 60, 20.0),
            ("a", "b", BASE + 180, 90.0),
            ("a", "b", BASE + 240, 70.0),
        ],
    )
    got = as_map(TS.interpolate_nearest2(obs, KEYS))
    assert got[("a", "b", BASE + 120)] == (55.0, True)


def test_cross_midnight_interpolation(spark):
    # 23:59 -> 00:01 next day: epoch-second math makes the boundary a
    # non-event (reference needed the +240000 hack,
    # fact_gold_price_temp.py:343-346).
    obs = obs_df(
        spark,
        [("a", "b", MIDNIGHT - 60, 100.0), ("a", "b", MIDNIGHT + 60, 200.0)],
    )
    got = as_map(TS.interpolate_bracketing(obs, KEYS))
    assert got[("a", "b", MIDNIGHT)] == (150.0, True)
    got2 = as_map(TS.interpolate_nearest2(obs, KEYS))
    assert got2[("a", "b", MIDNIGHT)] == (150.0, True)


def test_minute_observations_mean_and_truncation(spark):
    # two events inside one minute average; seconds truncate to the grid
    rows = [
        (1, dt.datetime(2024, 3, 1, 10, 0, 10), "a", 10.0),
        (2, dt.datetime(2024, 3, 1, 10, 0, 50), "a", 20.0),
    ]
    df = spark.createDataFrame(
        rows, "id long, ts timestamp, src string, value double"
    ).withColumn("side", F.lit("b"))
    got = TS.minute_observations(df, KEYS).collect()
    assert len(got) == 1
    assert got[0].minute_epoch == BASE
    assert got[0].value == pytest.approx(15.0)


def test_gap_runs_expose_bracketing_anchors(spark):
    # T4 support: each missing minute carries its bracketing pair, so a
    # caller can detect runs whose anchors straddle midnight.
    obs = obs_df(
        spark,
        [("a", "b", MIDNIGHT - 120, 10.0), ("a", "b", MIDNIGHT + 60, 40.0)],
    )
    runs = TS.gap_runs(obs, KEYS).collect()
    assert {r.minute_epoch for r in runs} == {MIDNIGHT - 60, MIDNIGHT}
    for r in runs:
        assert (r.pt, r.pv, r.nt, r.nv) == (MIDNIGHT - 120, 10.0, MIDNIGHT + 60, 40.0)


def test_locf_carries_previous_value(spark):
    m = TS.MINUTE
    obs = obs_df(
        spark,
        [
            ("a", "b", BASE, 10.0),
            ("a", "b", BASE + 3 * m, 40.0),  # 2-minute interior gap
            (None, "b", BASE, 7.0),  # NULL key group must survive
            (None, "b", BASE + 2 * m, 9.0),
        ],
    )
    got = {
        (r.src, r.side, r.minute_epoch): (r.value, r.is_filled)
        for r in TS.fill_locf(obs, KEYS).collect()
    }
    assert got[("a", "b", BASE + 1 * m)] == (10.0, True)  # carried, not blended
    assert got[("a", "b", BASE + 2 * m)] == (10.0, True)
    assert got[("a", "b", BASE + 3 * m)] == (40.0, False)
    assert got[(None, "b", BASE + 1 * m)] == (7.0, True)
    assert len(got) == 7


def test_minute_anomaly_zscore_breaches_only(spark):
    from myserver_datawarehouse_spark.plans import timeseries as PT

    rows = PT.minute_anomaly_zscore(spark, "/root/testdata/sf0.001").collect()
    for r in rows:
        assert abs(r.zscore) > PT.ZSCORE_TAU
        assert r.n_in_window >= PT.ZSCORE_MIN_N
