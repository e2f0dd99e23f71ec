"""Property test: the vectorized nearest-2 kernel must match a literal
transcription of the reference's per-minute numpy loop
(/root/reference/dags/etl/fact_gold_price.py:317-351: np.argsort on
|t - m| over the full time-sorted actual set, take 2, linear blend,
t1==t2 degenerates to y1) on arbitrary observation layouts — including
the adversarial shapes: one-sided extrapolation runs, equidistant ties,
and dense/sparse mixes. Pure numpy, no Spark session needed — except
the last test, which holds the JVM-native hour kernel
(`interpolate_hour_nearest2`) to both on one seeded multi-group hour."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from myserver_datawarehouse_spark.operators.timeseries import (
    MINUTE,
    _nearest2_values,
    interpolate_hour_nearest2,
)


def _reference_loop(t, v, m):
    out = []
    for probe in m:
        order = np.argsort(np.abs(t - probe), kind="stable")[:2]
        t1, t2 = t[order[0]], t[order[1]]
        y1, y2 = v[order[0]], v[order[1]]
        if t1 == t2:
            out.append(y1)
        else:
            out.append(y1 + (probe - t1) * (y2 - y1) / (t2 - t1))
    return np.array(out)


@settings(max_examples=200, deadline=None)
@given(
    minutes=st.lists(
        st.integers(min_value=0, max_value=300), min_size=2, max_size=60, unique=True
    ),
    values=st.data(),
)
def test_vectorized_kernel_matches_reference_loop(minutes, values):
    slots = sorted(minutes)
    observed = slots[:: max(1, len(slots) // 7)]  # sparse actuals
    t = np.array([s * MINUTE for s in observed], dtype=np.int64)
    v = np.array(
        [
            values.draw(
                st.floats(
                    min_value=-1e6, max_value=1e6, allow_nan=False, width=64
                )
            )
            for _ in observed
        ],
        dtype=np.float64,
    )
    grid = np.arange(t[0], t[-1] + MINUTE, MINUTE)
    m = grid[~np.isin(grid, t)]
    if m.size == 0 or len(t) < 2:
        return
    got = _nearest2_values(t, v, m)
    want = _reference_loop(t, v, m)
    assert np.array_equal(got, want), (t.tolist(), v.tolist(), m.tolist())


def test_one_sided_extrapolation_window_edges():
    # Both nearest actuals on the SAME side of the probe: the reference
    # extrapolates; the kernel must too (not clamp to bracketing).
    t = np.array([0, 60], dtype=np.int64)
    v = np.array([10.0, 20.0], dtype=np.float64)
    m = np.array([180], dtype=np.int64)  # beyond both actuals
    # slope 10/60 per second -> at 180: 10 + 180/60*10 = 40
    assert _nearest2_values(t, v, m)[0] == 40.0


def test_equidistant_tie_prefers_earlier_time():
    # Probe exactly between two actuals: stable argsort takes the earlier
    # actual first; the pair is (earlier, later) either way, but a THIRD
    # equidistant-from-second candidate must not displace it.
    t = np.array([0, 120, 240], dtype=np.int64)
    v = np.array([0.0, 100.0, 0.0], dtype=np.float64)
    m = np.array([120 - 60, 120 + 60], dtype=np.int64)
    got = _nearest2_values(t, v, m)
    want = _reference_loop(t, v, m)
    assert np.array_equal(got, want)


HOUR_LO = 1_709_280_000  # 2024-03-01T08:00Z, a whole hour


def _hour_groups(rng, n_groups=300):
    """Seeded layouts of one hour's actual minutes per group: sparse
    random, both grid ends (minutes 0 and 59), clusters at either end
    (one-sided extrapolation runs), even spacing (equidistant ties) and
    a single actual; every 25th group has a NULL key part."""
    groups = {}
    for g in range(n_groups):
        shape = g % 6
        if shape == 0:
            mins = rng.choice(60, size=rng.integers(2, 13), replace=False)
        elif shape == 1:
            mins = [0, 59, *rng.choice(np.arange(1, 59), size=rng.integers(0, 5),
                                       replace=False)]
        elif shape == 2:
            mins = rng.choice(6, size=rng.integers(2, 5), replace=False)
        elif shape == 3:
            mins = 54 + rng.choice(6, size=rng.integers(2, 5), replace=False)
        elif shape == 4:
            step = int(rng.choice([2, 4, 6]))
            mins = np.arange(int(rng.integers(0, step)), 60, step)
        else:
            mins = [int(rng.integers(0, 60))]
        side = None if g % 25 == 7 else f"s{g % 3}"
        src = None if g == 150 else f"g{g}"
        t = np.sort(np.array(mins, dtype=np.int64)) * MINUTE + HOUR_LO
        groups[(src, side)] = (t, rng.uniform(-1e6, 1e6, size=len(t)))
    return groups


def test_native_hour_kernel_matches_reference_loop(spark):
    groups = _hour_groups(np.random.default_rng(20240301))
    obs = spark.createDataFrame(
        [(k[0], k[1], int(ti), float(vi))
         for k, (t, v) in groups.items() for ti, vi in zip(t, v)],
        "src string, side string, minute_epoch long, value double",
    )
    got = {}
    for r in interpolate_hour_nearest2(obs, ["src", "side"], HOUR_LO).collect():
        got.setdefault((r.src, r.side), {})[r.minute_epoch] = (
            r.value, r.is_interpolated
        )
    assert got.keys() == groups.keys()
    grid = np.arange(HOUR_LO, HOUR_LO + 60 * MINUTE, MINUTE)
    filled = 0
    for key, (t, v) in groups.items():
        want = {int(ti): (float(vi), False) for ti, vi in zip(t, v)}
        if len(t) >= 2 and None not in key:
            m = grid[~np.isin(grid, t)]
            vals = _nearest2_values(t, v, m)
            assert np.array_equal(vals, _reference_loop(t, v, m)), key
            want.update({int(mi): (float(x), True) for mi, x in zip(m, vals)})
            filled += len(m)
        assert got[key] == want, key
    assert filled > 10_000
