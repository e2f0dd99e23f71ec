"""Data-quality / validation operators (V1-V5, SURVEY.md §2.10).

The reference validates operationally after each load:
stats profile + interpolation rate (`fact_gold_price.py:382-431`),
completeness `total == unique_sources × unique_sides × 60`
(`fact_gold_price.py:433-440`), null-price count (`:443-460`), dim_date
integrity (`dim_date_etl_dag.py:113-130`), sources summary
(`populate_sources_dag.py:182-213`).

Each check is one Spark aggregate returning a structured row — a single
pass, map-side combined, no driver-side row iteration. Checks return data;
callers decide whether to raise (the reference itself only warns on most).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interpolation_profile(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str = "value",
    flag_col: str = "is_interpolated",
) -> DataFrame:
    """V1: one-pass stats block over an interpolated table — totals,
    actual/interpolated split, per-key distincts, value stats, interp rate
    (fact_gold_price.py:394-431)."""
    key_counts = [
        F.countDistinct(k).alias(f"unique_{k}") for k in keys
    ]
    return df.agg(
        F.count(F.lit(1)).alias("total_records"),
        F.count(F.when(~F.col(flag_col), 1)).alias("actual_records"),
        F.count(F.when(F.col(flag_col), 1)).alias("interpolated_records"),
        *key_counts,
        F.round(
            F.sum(F.col(value_col).cast("decimal(18,6)")).cast("double")
            / F.count(value_col),
            6,
        ).alias("avg_value"),
        F.min(value_col).alias("min_value"),
        F.max(value_col).alias("max_value"),
        F.round(
            F.count(F.when(F.col(flag_col), 1)).cast("double")
            * 100.0
            / F.count(F.lit(1)),
            2,
        ).alias("interpolation_rate_pct"),
    )


def completeness_check(
    df: DataFrame, keys: Sequence[str], expected_per_group: int = 60
) -> DataFrame:
    """V2: `total == (product of unique key cardinalities) × expected`
    (fact_gold_price.py:433-440). Returns one row with the expectation and
    a boolean verdict."""
    agg = df.agg(
        F.count(F.lit(1)).alias("total_records"),
        *[F.countDistinct(k).alias(f"unique_{k}") for k in keys],
    )
    expected = F.lit(expected_per_group)
    for k in keys:
        expected = expected * F.col(f"unique_{k}")
    return agg.select(
        "*",
        expected.cast("long").alias("expected_records"),
        (F.col("total_records") == expected).alias("is_complete"),
    )


def null_count(df: DataFrame, col: str) -> DataFrame:
    """V3: count of NULLs in a required column (fact_gold_price.py:443-460)."""
    return df.agg(
        F.count(F.when(F.col(col).isNull(), 1)).alias(f"null_{col}_count")
    )

