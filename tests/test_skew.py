"""Skew-mitigation primitives: salted joins and salted distinct counts
must be result-identical to their unsalted forms on any distribution —
including a deliberately hot-keyed one."""

from pyspark.sql import functions as F

from myserver_datawarehouse_spark.operators import skew


def _skewed_df(spark):
    # 90% of rows share key 'hot'; user ids overlap across keys.
    rows = [("hot", i % 37) for i in range(900)] + [
        ("cold%d" % (i % 7), i % 11) for i in range(100)
    ]
    return spark.createDataFrame(rows, "k string, uid long")


def test_salted_distinct_count_matches_direct(spark):
    df = _skewed_df(spark)
    direct = {
        r.k: r.n
        for r in df.groupBy("k").agg(F.countDistinct("uid").alias("n")).collect()
    }
    salted = {
        r.k: r.n
        for r in skew.salted_distinct_count(
            df, ["k"], "uid", n_salts=8, alias="n"
        ).collect()
    }
    assert salted == direct
    assert direct["hot"] == 37


def test_salt_is_deterministic(spark):
    df = _skewed_df(spark)
    a = skew.add_salt(df, 8, ["uid"]).select("k", "uid", "_salt").collect()
    b = skew.add_salt(df, 8, ["uid"]).select("k", "uid", "_salt").collect()
    assert a == b
    assert all(0 <= r._salt < 8 for r in a)


def test_aqe_splits_skewed_sort_merge_join(spark):
    """The OTHER half of the skew story: for skewed sort-merge joins,
    AQE's runtime skew-split is the first line of defense (salting is
    for what AQE can't reach — agg-state skew and non-splittable
    joins, per SCALE.md §0). Verify the mechanism actually fires on
    this build: with the skew thresholds scaled down to fixture size,
    a join keyed 99% on one value must show `isSkew=true` partitions
    in the final adaptive plan."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        big = spark.range(0, 60_000).select(
            F.when(F.col("id") % 100 < 99, F.lit(0))
            .otherwise(F.col("id"))
            .alias("k"),
            F.concat(F.lit("x" * 64), F.col("id")).alias("pad"),
        )
        dim = spark.range(0, 200).select(
            F.col("id").alias("k"), F.lit("d").alias("tag")
        )
        joined = big.join(dim, "k").groupBy("tag").count()
        [row] = joined.collect()  # materialize so AQE finalizes the plan
        # k=0 carries 59,400 rows; the spread keys k=id match dim only
        # for id in {99, 199}.
        assert row["count"] == 59_402
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin(skew=true)" in plan, plan[:2000]
        assert "skewed" in plan  # AQEShuffleRead coalesced and skewed
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
