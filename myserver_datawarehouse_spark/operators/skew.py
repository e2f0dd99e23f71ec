"""Skew mitigation primitives: deterministic salting for hot keys.

AQE's skew-join handling (on in session.py) splits oversized sort-merge
join partitions at runtime, but aggregation skew still needs explicit
salting at 100 TB: a hash aggregate over a hot key funnels that key's
entire final-merge state through ONE reducer task. Partial (map-side)
aggregation amortizes plain sums/counts, but per-group state that
doesn't partial-combine cheaply (exact distinct counts, collected sets)
concentrates on the hot key's single final partition.

Salts are DETERMINISTIC (hash of named columns, never rand()): the
engine's reproducibility policy — identical inputs give identical plans,
task retries can't double-count, and oracles can mirror the math.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def add_salt(
    df: DataFrame,
    n_salts: int,
    entropy: Sequence[str | Column],
    salt_col: str = "_salt",
) -> DataFrame:
    """Add a deterministic salt in [0, n_salts) derived from `entropy`
    columns. Pick entropy with per-row spread WITHIN the hot key (a row
    id, a user id) — salting on the group key itself is a no-op."""
    return df.withColumn(
        salt_col,
        F.pmod(F.xxhash64(*entropy), F.lit(n_salts)).cast("int"),
    )


def salted_distinct_count(
    df: DataFrame,
    keys: Sequence[str],
    col: str,
    n_salts: int,
    alias: str | None = None,
) -> DataFrame:
    """Exact COUNT(DISTINCT col) per keys, skew-spread: salt on hash(col)
    so each distinct value lands in exactly ONE (key, salt) cell, count
    distinct within cells (hot key's state now n_salts-way parallel),
    then SUM the disjoint partial counts. Identical result to the direct
    aggregate under any data distribution."""
    out = alias or f"n_distinct_{col}"
    partial = (
        add_salt(df, n_salts, [col])
        .groupBy(*keys, "_salt")
        .agg(F.countDistinct(col).alias("_c"))
    )
    return partial.groupBy(*keys).agg(F.sum("_c").alias(out))
