"""Distributed exact global ranking — the scalable replacement for an
unpartitioned ``row_number()/ntile()`` window (which serializes its whole
input through ONE task; see user_spend_quartiles' documented caveat).

The classic two-phase plan every distributed sort-rank uses:

1. ``repartitionByRange(order_cols)`` + ``sortWithinPartitions`` — Spark's
   range exchange gives totally-ordered, non-overlapping partitions (rows
   equal on the range keys co-locate, so ranks never split across a
   boundary when the order is total).
2. Count rows per partition (a #partitions-row aggregate — the one
   driver-side object, KB-sized at any data scale), turn the counts into
   cumulative offsets, broadcast them back as a local relation, and add
   each partition's offset to its local ``row_number``.

The ranked frame is materialized once (sanctioned lineage cut) so the
count pass and the rank pass share the range exchange instead of
recomputing it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from myserver_datawarehouse_spark.session import materialize

_PID = "__msdw_pid"
_OFFSET = "__msdw_offset"


def global_rank(
    df: DataFrame,
    order_cols: list[Column | str],
    rank_col: str = "rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Add a 1-based exact global rank by ``order_cols`` without ever
    funneling the data through a single partition.

    ``order_cols`` must be a TOTAL order (include a unique tie-break);
    otherwise ties may straddle a range boundary and their relative
    rank would be partition-placement-dependent.
    """
    n_parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = materialize(
        df.repartitionByRange(n_parts, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn(_PID, F.spark_partition_id())
    )
    counts = sorted(
        (r[_PID], r["cnt"])
        for r in ranged.groupBy(_PID).agg(F.count(F.lit(1)).alias("cnt")).collect()
    )
    offsets, acc = [], 0
    for pid, cnt in counts:
        offsets.append((pid, acc))
        acc += cnt
    # VALUES literal, not createDataFrame: the latter ships the rows
    # through a Python RDD, which starts Python workers inside an
    # otherwise all-JVM plan. An empty input has no partitions to shift;
    # partition 0's offset (always 0) keeps the literal non-empty.
    values = ", ".join(f"({pid}, {acc})" for pid, acc in offsets or [(0, 0)])
    off = df.sparkSession.sql(
        f"SELECT CAST(pid AS INT) {_PID}, CAST(acc AS BIGINT) {_OFFSET} "
        f"FROM (VALUES {values}) AS t(pid, acc)"
    )
    local = F.row_number().over(Window.partitionBy(_PID).orderBy(*order_cols))
    return (
        ranged.join(F.broadcast(off), _PID)
        .withColumn(rank_col, F.col(_OFFSET) + local)
        .drop(_PID, _OFFSET)
    )


def ntile_from_rank(rank: Column, n: Column, k: int) -> Column:
    """SQL NTILE(k) bucket derived from an exact global rank: the first
    ``n % k`` buckets take ``n//k + 1`` rows, the rest ``n//k`` — pure
    integer arithmetic, so the distributed rank reproduces the window
    function bit-for-bit."""
    q = F.floor(n / k)
    m = n % k
    big = m * (q + 1)  # rows living in the size-(q+1) buckets
    return (
        F.when(rank <= big, F.floor((rank - 1) / (q + 1)) + 1)
        .otherwise(m + F.floor((rank - big - 1) / q) + 1)
        .cast("int")
    )


def skyline_2d(
    df: DataFrame,
    maximize: str,
    minimize: str,
    tie_break: str,
    salt_buckets: int = 64,
) -> DataFrame:
    """Distributed 2-D Pareto skyline: rows where no other row is >= on
    ``maximize`` and <= on ``minimize`` with at least one strict (exact
    duplicates all survive — neither dominates).

    Skyline is DISTRIBUTIVE: skyline(S) = skyline(U skyline(S_i)) for
    any partitioning, because domination is transitive. So phase 1
    computes a local skyline inside each of ``salt_buckets`` hash
    buckets (parallel, input-sized), and phase 2 re-applies the same
    rule to the survivors (skyline-sized — at 100 TB the 2-D skyline
    of continuous-valued data is ~O(log n) rows, so the final pass is
    trivially small).

    The per-bucket rule is the sort-based sweep: order by (maximize
    DESC, minimize ASC, tie_break); a row is dominated iff
    min(struct(minimize, -maximize)) over the PRECEDING rows is
    lexicographically smaller than its own struct — one window, no
    self-join. (Proof: preceding rows have maximize >= current; a
    smaller struct means strictly lower cost, or equal cost with
    strictly higher gain — exactly a dominator; an equal struct is an
    exact duplicate, which does not dominate.)
    """

    def _sweep(frame: DataFrame, *extra_partition) -> DataFrame:
        w = (
            Window.partitionBy(*extra_partition)
            .orderBy(F.desc(maximize), F.asc(minimize), F.asc(tie_break))
            .rowsBetween(Window.unboundedPreceding, -1)
            if extra_partition
            else Window.orderBy(
                F.desc(maximize), F.asc(minimize), F.asc(tie_break)
            ).rowsBetween(Window.unboundedPreceding, -1)
        )
        me = F.struct(F.col(minimize), (-F.col(maximize)).alias("_ng"))
        best = F.min(
            F.struct(F.col(minimize), (-F.col(maximize)).alias("_ng"))
        ).over(w)
        return (
            frame.withColumn("_best", best)
            .filter(F.col("_best").isNull() | ~(F.col("_best") < me))
            .drop("_best")
        )

    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(tie_break)), F.lit(salt_buckets))
    )
    local = _sweep(salted, "_salt").drop("_salt")
    return _sweep(local)
