"""Time-series core: gap-fill to a minute grid + linear interpolation.

Re-expresses the reference's defining computation (T1-T5, SURVEY.md §2.9):
`/root/reference/dags/etl/fact_gold_price.py:281-351` builds a per-hour
minute grid, finds missing minutes per (source_id, side_id, date_id) group,
and fills each by linear interpolation between the **two nearest actual
observations by absolute time distance** (numpy argsort, one-sided
extrapolation allowed, groups with <2 actuals skipped, t1==t2 degenerate →
y1). `rebuild_all_time_interpolation.py:74-163` is the same bounded to
[MIN, MAX] observed minute per date.

Design (Spark-first, 100 TB-ready):

- All time arithmetic runs on **epoch-second longs** (minute-truncated), not
  the reference's HHMMSS integer keys. This makes cross-midnight
  interpolation (reference T4's +240000 hack,
  `fact_gold_price_temp.py:343-346`) a non-event and keeps every expression
  inside whole-stage codegen. Conversion to date_id/time_id surrogate keys
  happens only at the output edge (functions/keys.py).
- The grid is generated per group with `F.sequence` (a bounded array of ≤
  grid-span elements — 1440/day — never a driver-side loop), then exploded.
  Partitioning is by the group keys: partition count scales with data while
  partition size stays bounded by the grid span, which is exactly the shape
  a 1000-executor shuffle wants.
- Two interpolation modes:
  * `interpolate_bracketing` — pure window functions (`last ignorenulls`
    preceding + `first ignorenulls` following + linear blend). Fully
    codegen'd, one sort per group partition, the sane default at scale.
  * `interpolate_nearest2` — exact reference parity via one
    `applyInPandas` grouped kernel (the single justified pandas UDF in the
    engine, SURVEY.md §2.11), vectorized with `np.searchsorted` — the two
    nearest neighbors of a probe in a sorted array form a contiguous index
    window, so 4 candidate indices suffice; no per-row Python loop.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

import numpy as np
import pandas as pd

from myserver_datawarehouse_spark.functions import keys as K
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

MINUTE = 60  # seconds


def minute_observations(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Collapse raw events to one row per (keys..., minute): columns
    `minute_epoch` (long, multiple of 60) and `value` (double, the exact
    decimal-accumulated per-minute mean, rounded to 6dp at the edge).

    The mean is summed in DECIMAL so it is order-independent across
    partitions (a distributed sum of doubles is not reproducible).
    """
    minute_epoch = F.unix_timestamp(K.minute_bucket(F.col(ts_col))).alias(
        "minute_epoch"
    )
    return (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*keys, minute_epoch)
        .agg(
            F.round(
                F.sum(F.col(value_col).cast("decimal(18,6)")).cast("double")
                / F.count(value_col),
                6,
            ).alias("value")
        )
    )


def bounded_minute_grid(obs: DataFrame, keys: Sequence[str]) -> DataFrame:
    """T1 grid (bounded form, rebuild_all_time_interpolation.py:74-99): per
    group, every minute in [min observed, max observed] inclusive."""
    return (
        obs.groupBy(*keys)
        .agg(F.min("minute_epoch").alias("t0"), F.max("minute_epoch").alias("t1"))
        .select(
            *keys,
            F.explode(F.sequence("t0", "t1", F.lit(MINUTE))).alias("minute_epoch"),
        )
    )


def _lead_gaps(obs: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Per observed row, the run of missing minutes up to (exclusive) the
    next observation in its group, plus both bracketing observations.

    Gaps-and-islands with one `lead` window — a single shuffle on the
    group keys and NO grid materialization, no anti-join: the bounded
    grid's missing minutes are exactly the union of these runs (grid
    endpoints are observed, so nothing is missing outside them). NULL
    keys group together under partitionBy, which a key-equality join
    would silently drop. This is the 100 TB shape: the old
    grid-anti-join form cost two extra scans of obs plus a join; this is
    one sort-shuffle, then map-side explode.
    """
    w = Window.partitionBy(*keys).orderBy("minute_epoch")
    return (
        obs.select(
            *keys,
            F.col("minute_epoch").alias("pt"),
            F.col("value").alias("pv"),
            F.lead("minute_epoch").over(w).alias("nt"),
            F.lead("value").over(w).alias("nv"),
        )
        .filter(F.col("nt") > F.col("pt") + MINUTE)
        .select(
            *keys,
            "pt",
            "pv",
            "nt",
            "nv",
            F.explode(
                F.sequence(F.col("pt") + MINUTE, F.col("nt") - MINUTE, F.lit(MINUTE))
            ).alias("minute_epoch"),
        )
    )


def gap_runs(obs: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Public form of _lead_gaps: each missing minute together with its
    bracketing observations (pt/pv before, nt/nv after). Callers that need
    gap *metadata* — e.g. whether a run crosses midnight (T4) — enter here
    instead of re-deriving the window."""
    return _lead_gaps(obs, keys)


def gapfill_missing(obs: DataFrame, keys: Sequence[str]) -> DataFrame:
    """T1: minutes of the bounded grid not observed (the relational form
    of fact_gold_price.py:312-315), generated directly from the gap runs
    between consecutive observations — see _lead_gaps."""
    return _lead_gaps(obs, keys).select(*keys, "minute_epoch")


def interpolate_bracketing(obs: DataFrame, keys: Sequence[str]) -> DataFrame:
    """T2 (bracketing mode): fill each missing minute from the nearest
    observation strictly before and strictly after, linear blend over
    epoch seconds. Within a bounded grid both sides always exist (grid
    endpoints are observed), so the bracketing pair IS the lead pair of
    the gap run — the interpolation happens at gap-generation time
    (_lead_gaps), one window pass, no grid join, no second window.
    """
    gaps = _lead_gaps(obs, keys)
    # y = y1 + (x - x1) * (y2 - y1) / (x2 - x1); identical expression shape
    # in the DuckDB oracle so the IEEE result is bit-identical. Deliberately
    # NOT rounded: the blend lands on exact decimal midpoints (inputs are
    # 6dp-rounded) where engines' ROUND implementations disagree, while the
    # raw IEEE result is deterministic.
    interp = F.col("pv") + (F.col("minute_epoch") - F.col("pt")).cast("double") * (
        F.col("nv") - F.col("pv")
    ) / (F.col("nt") - F.col("pt")).cast("double")
    filled = gaps.select(
        *keys,
        "minute_epoch",
        interp.alias("value"),
        F.lit(True).alias("is_interpolated"),
    )
    actual = obs.select(
        *keys, "minute_epoch", "value", F.lit(False).alias("is_interpolated")
    )
    return actual.unionByName(filled)


def _nearest2_schema(keys_schema: StructType) -> StructType:
    return StructType(
        [
            *keys_schema.fields,
            StructField("minute_epoch", LongType(), False),
            StructField("value", DoubleType(), True),
            StructField("is_interpolated", BooleanType(), False),
        ]
    )


def _nearest2_fill(pdf: pd.DataFrame) -> pd.DataFrame:
    """Exact reference kernel (fact_gold_price.py:317-351), vectorized.

    For each missing minute take the two nearest actuals by |Δt| — numpy's
    stable argsort tie-break (earlier time wins on equal distance) is
    reproduced by candidate order. One-sided extrapolation happens naturally
    when both nearest actuals lie on the same side; groups with <2 actuals
    are skipped (missing minutes stay missing); t1==t2 degenerates to y1.
    """
    actual = pdf[pdf["value"].notna()].sort_values("minute_epoch")
    missing = pdf[pdf["value"].isna()]
    out_actual = actual.assign(is_interpolated=False)
    if len(actual) < 2 or missing.empty:
        return out_actual
    t = actual["minute_epoch"].to_numpy(np.int64)
    v = actual["value"].to_numpy(np.float64)
    m = missing["minute_epoch"].to_numpy(np.int64)
    val = _nearest2_values(t, v, m)
    out_missing = missing.assign(value=val, is_interpolated=True)
    return pd.concat([out_actual, out_missing], ignore_index=True)


def _nearest2_values(t: np.ndarray, v: np.ndarray, m: np.ndarray) -> np.ndarray:
    """Interpolated values at probe minutes `m` from sorted actuals (t, v).

    The 2 nearest neighbors of a probe in a sorted array are a contiguous
    index window around the insertion point: candidates i-2..i+1 suffice.
    Stable argsort on distance with candidates in ascending-time order ==
    the reference's np.argsort over the full time-sorted array."""
    i = np.searchsorted(t, m)
    cand = np.stack([i - 2, i - 1, i, i + 1], axis=1)
    valid = (cand >= 0) & (cand < len(t))
    ci = np.clip(cand, 0, len(t) - 1)
    dist = np.where(valid, np.abs(t[ci] - m[:, None]), np.iinfo(np.int64).max)
    order = np.argsort(dist, axis=1, kind="stable")[:, :2]
    pick = np.take_along_axis(ci, order, axis=1)
    t1, t2 = t[pick[:, 0]], t[pick[:, 1]]
    v1, v2 = v[pick[:, 0]], v[pick[:, 1]]
    same = t1 == t2
    denom = np.where(same, 1, t2 - t1)
    return np.where(same, v1, v1 + (m - t1) * (v2 - v1) / denom)


def fill_nearest2(grid_with_values: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Apply the nearest-2 kernel to an already-joined (grid ∪ observed)
    frame — callers that build non-default grids (e.g. the hourly
    pipeline's fixed 60-minute grid) enter here."""
    keys_schema = StructType([grid_with_values.schema[k] for k in keys])
    return grid_with_values.groupBy(*keys).applyInPandas(
        _nearest2_fill, schema=_nearest2_schema(keys_schema)
    )


def interpolate_nearest2(obs: DataFrame, keys: Sequence[str]) -> DataFrame:
    """T2 (exact parity mode): the reference's nearest-2 semantics via one
    grouped `applyInPandas`. Group size is bounded by the grid span (≤1440
    rows/day-group), so executor memory is flat regardless of total scale.

    The bounded [min, max] grid is generated INSIDE the kernel from the
    group's own observations (`np.arange`), not joined in Spark: only the
    actuals shuffle and cross Arrow (the missing minutes never exist JVM-
    side), saving the grid build + left join — measured ~2x on the sf0.1
    events grain vs the explicit-grid path. Callers with a grid that is
    not derivable from the group (the hourly pipeline's fixed hour) use
    `fill_nearest2` on a pre-joined frame instead."""
    keys_schema = StructType([obs.schema[k] for k in keys])

    def fill(key, pdf: pd.DataFrame) -> pd.DataFrame:
        actual = pdf.sort_values("minute_epoch")
        out_actual = actual.assign(is_interpolated=False)
        t = actual["minute_epoch"].to_numpy(np.int64)
        if len(t) < 2:
            return out_actual
        grid = np.arange(t[0], t[-1] + MINUTE, MINUTE)
        m = grid[~np.isin(grid, t)]
        if m.size == 0:
            return out_actual
        v = actual["value"].to_numpy(np.float64)
        val = _nearest2_values(t, v, m)
        out_missing = pd.DataFrame(
            {
                **{k: pd.Series([kv] * m.size, dtype=pdf[k].dtype)
                   for k, kv in zip(keys, key)},
                "minute_epoch": m,
                "value": val,
                "is_interpolated": True,
            }
        )
        return pd.concat([out_actual, out_missing], ignore_index=True)

    return obs.select(*keys, "minute_epoch", "value").groupBy(*keys).applyInPandas(
        fill, schema=_nearest2_schema(keys_schema)
    )


def with_minute_ts(df: DataFrame, col: str = "minute_epoch") -> DataFrame:
    """Convert the internal epoch-second minute key back to a timestamp
    column `minute_ts` at the output edge."""
    return df.withColumn("minute_ts", F.timestamp_seconds(F.col(col)))


def hour_grid(
    spark_groups: DataFrame,
    keys: Sequence[str],
    hour_start_epoch: int,
) -> DataFrame:
    """T1 grid (fixed-hour form, fact_gold_price.py:283-291): all 60 minutes
    of one closed hour for every group in `spark_groups` (distinct keys).
    Used by the flagship hourly pipeline; extrapolation and the <2-actuals
    skip rule only arise with this grid shape.
    """
    lo = int(hour_start_epoch) // MINUTE * MINUTE
    return spark_groups.select(*keys).distinct().select(
        "*",
        F.explode(
            F.sequence(F.lit(lo), F.lit(lo + 59 * MINUTE), F.lit(MINUTE))
        ).alias("minute_epoch"),
    )


__all__: Iterable[str] = [
    "minute_observations",
    "bounded_minute_grid",
    "gap_runs",
    "gapfill_missing",
    "interpolate_bracketing",
    "interpolate_nearest2",
    "fill_nearest2",
    "hour_grid",
    "with_minute_ts",
]


def fill_locf(obs: DataFrame, keys: Sequence[str]) -> DataFrame:
    """T2's third mode: last-observation-carried-forward fill of the
    bounded minute grid. Each missing minute takes the previous observed
    value — the imputation used when a stale quote is better than an
    invented midpoint (order books, sensor snapshots).

    Same gap-run lineage as bracketing (_lead_gaps): one sort-shuffle on
    the group keys, map-side explode, no grid join — the carried value is
    the run's own `pv`, so LOCF is strictly cheaper than interpolation
    (no blend arithmetic, no second bracket)."""
    gaps = _lead_gaps(obs, keys)
    filled = gaps.select(
        *keys,
        "minute_epoch",
        F.col("pv").alias("value"),
        F.lit(True).alias("is_filled"),
    )
    actual = obs.select(
        *keys, "minute_epoch", "value", F.lit(False).alias("is_filled")
    )
    return actual.unionByName(filled)
