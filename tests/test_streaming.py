"""Streaming/batch unification: the availableNow-drained streaming
queries must equal their batch equivalents on the bounded source
(SURVEY.md §2.12)."""

import os

from pyspark.sql import functions as F

from myserver_datawarehouse_spark.sources.tables import load_table
from myserver_datawarehouse_spark.streaming import jobs as SJ

SF_DIR = "/root/testdata/sf0.001"


def test_streaming_minute_agg_equals_batch(spark):
    stream = SJ.events_stream(spark, SF_DIR)
    got = SJ.run_available_now(
        SJ.minute_agg_query(stream), spark, "t_stream_minute"
    )
    e = load_table(spark, SF_DIR, "events").filter(F.col("value").isNotNull())
    want = (
        e.groupBy(F.date_trunc("minute", "ts").alias("minute_ts"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                / F.count("value"),
                6,
            ).alias("avg_value"),
        )
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_streaming_dedup_counts_equals_batch(spark):
    stream = SJ.events_stream(spark, SF_DIR)
    got = SJ.run_available_now(
        SJ.dedup_counts_query(stream), spark, "t_stream_dedup"
    )
    e = load_table(spark, SF_DIR, "events")
    want = e.groupBy("event_type").agg(
        F.countDistinct("event_id").alias("n_unique_events")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_gap_state_carries_across_batches(spark, tmp_path):
    # Two parquet files drained one-per-trigger: the gap between batch 1's
    # last minute and batch 2's first minute must be counted from STATE,
    # not from within-batch context.
    import datetime as dt
    import os

    from pyspark.sql.types import Row

    def ev(i, minute, typ="a", value=1.0):
        return Row(
            event_id=i,
            ts=dt.datetime(2024, 1, 1, 0, minute, 0),
            user_id=1,
            event_type=typ,
            value=value,
            props="{}",
        )

    from tests.conftest import write_single_parquet

    src = str(tmp_path / "stream_src")
    os.makedirs(src)

    # The file-stream source lists plain files (the driver's testdata are
    # single parquet FILES, not directories); stage each batch dir and
    # copy its part file in as f<N>.parquet.
    def write_file(rows, name):
        write_single_parquet(spark, rows, src, name, tmp_path)

    # batch 1: minutes 0, 1; batch 2: minutes 5 (gap), 6
    write_file([ev(1, 0), ev(2, 1)], "f1")
    write_file([ev(3, 5), ev(4, 6)], "f2")

    from pyspark.sql import functions as F2
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(src)
    )
    out = SJ.run_available_now(
        SJ.gap_state_query(stream), spark, "t_gap_state", mode="update"
    )
    # last update per key = final state
    final = (
        out.orderBy(F2.col("n_events").desc()).limit(1).collect()[0]
    )
    assert final.event_type == "a"
    assert final.n_events == 4
    assert final.n_gap_runs == 1  # minutes 1 -> 5, detected across batches
    assert final.last_minute_ts == dt.datetime(2024, 1, 1, 0, 6, 0)


def test_dedup_within_watermark_suppresses_cross_batch_redelivery(
    spark, tmp_path
):
    """A duplicate event_id re-delivered in a LATER micro-batch, inside
    the watermark horizon, must be dropped — the at-least-once
    redelivery case dropDuplicatesWithinWatermark exists for."""
    import datetime as dt
    import glob
    import os
    import shutil

    from pyspark.sql.types import Row

    def ev(i, minute, typ="a"):
        return Row(
            event_id=i,
            ts=dt.datetime(2024, 1, 1, 0, minute, 0),
            user_id=1,
            event_type=typ,
            value=1.0,
            props="{}",
        )

    from tests.conftest import write_single_parquet

    src = str(tmp_path / "wm_src")
    os.makedirs(src)

    def write_file(rows, name):
        write_single_parquet(spark, rows, src, name, tmp_path)

    # batch 1: ids 1, 2; batch 2: id 1 AGAIN (redelivery, +1 min) + id 3.
    write_file([ev(1, 0), ev(2, 0)], "f1")
    write_file([ev(1, 1), ev(3, 2)], "f2")

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(src)
    )
    out = SJ.run_available_now(
        SJ.dedup_within_watermark_query(stream), spark, "t_wm_dedup"
    )
    rows = {r.event_type: r.n_unique_events for r in out.collect()}
    assert rows == {"a": 3}  # ids {1, 2, 3}; the re-delivered 1 dropped


def test_streaming_upsert_merge_batch_split_invariant(spark, tmp_path):
    """The foreachBatch merged table equals the batch latest-per-key dedup
    EXACTLY, for two different arrival batchings — event-time precedence
    makes the fold associative, so the split must not matter."""
    from pyspark.sql import Window

    e = load_table(spark, SF_DIR, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    want = sorted(
        map(
            tuple,
            e.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "event_type", "event_id", "ts", "value")
            .collect(),
        )
    )
    last_work = None
    for n_files, per_trigger in ((1, 1), (5, 2)):
        last_work = str(tmp_path / f"split_{n_files}_{per_trigger}")
        target = SJ.upsert_merge_stream(
            spark,
            SF_DIR,
            last_work,
            n_input_files=n_files,
            files_per_trigger=per_trigger,
        )
        got = sorted(
            map(
                tuple,
                spark.read.parquet(target)
                .select("user_id", "event_type", "event_id", "ts", "value")
                .collect(),
            )
        )
        assert got == want, (n_files, per_trigger)

    # Replay safety, on the last work dir (saves one full extra stream
    # run): re-running the drained stream against the same checkpoint +
    # target leaves the merged table byte-identical. Whether the restart
    # replays batches (the input rewrite may list as new files) or
    # commits nothing, the event-time-precedence merge is idempotent —
    # the same property the reference gets from its per-row ON CONFLICT
    # upsert.
    target = SJ.upsert_merge_stream(
        spark, SF_DIR, last_work, n_input_files=5, files_per_trigger=2
    )
    second = sorted(
        map(
            tuple,
            spark.read.parquet(target)
            .select("user_id", "event_type", "event_id", "ts", "value")
            .collect(),
        )
    )
    assert second == want


def test_watermark_late_data_semantics_append_mode(spark, tmp_path):
    """The watermark contract, as Spark actually guarantees it: (a) a
    closed window emits EXACTLY ONCE in append mode; (b) a row arriving
    after its window's state was evicted is dropped (observable via
    numRowsDroppedByWatermark) and cannot re-emit the window; (c) a
    late-but-within-the-same-batch-as-eviction row may still be
    aggregated — dropping is only guaranteed after eviction, which is
    why the engine's streaming variants size their watermarks for the
    real late-arrival tail, not for exactness theater."""
    import datetime as dt
    import glob
    import os
    import shutil
    from pyspark.sql.types import Row

    def ev(i, minute, second=0):
        return Row(
            event_id=i,
            ts=dt.datetime(2024, 1, 1, 0, minute, second),
            user_id=1,
            event_type="a",
            value=1.0,
            props="{}",
        )

    from tests.conftest import write_single_parquet

    src = str(tmp_path / "late_src")
    os.makedirs(src)

    def write_file(rows, name):
        # write_single_parquet pins strictly-increasing mtimes, so the
        # file source's modificationTime batch order is deterministic.
        write_single_parquet(spark, rows, src, name, tmp_path)

    # batch 0: window [00:00, 00:01) gets its one on-time row; 00:04
    # will push the watermark to 00:02 for the NEXT batch.
    write_file([ev(1, 0), ev(2, 4)], "f1")
    # batch 1 (wm 00:02): window [00:00) is evicted + emitted here.
    write_file([ev(3, 5)], "f2")
    # batch 2 (wm 00:03): a very late row for the already-evicted
    # window — must be dropped, must not re-emit the window.
    write_file([ev(4, 0, 30)], "f3")

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(src)
    )
    agg = (
        stream.withWatermark("ts", "2 minutes")
        .groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("w_start"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("t_late_semantics")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
        dropped = sum(
            p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
            for p in q.recentProgress
            if p["stateOperators"]
        )
    finally:
        q.stop()
    rows = [
        r
        for r in spark.table("t_late_semantics").collect()
        if r.w_start == dt.datetime(2024, 1, 1, 0, 0, 0)
    ]
    assert len(rows) == 1  # exactly-once emission, no late resurrection
    assert rows[0].n == 1  # the post-eviction late row is not counted
    assert dropped == 1  # and its drop is observable in the metrics


def test_foreachbatch_upsert_checkpoint_resume(spark, tmp_path):
    """Restart semantics of the continuous-ingest upsert: a NEW query
    started on the SAME checkpoint processes only files it has not seen
    (no reprocessing of committed batches), and the merged target after
    the restart equals latest-wins over everything ever ingested —
    i.e. the crash/redeploy path of upsert_merge_stream is exactly-once
    at the merge level."""
    import datetime as dt
    import glob
    import os
    import shutil

    from pyspark.sql.types import Row

    from myserver_datawarehouse_spark.operators.merge import (
        dedup_latest,
        overwrite,
    )

    work = str(tmp_path)
    src = os.path.join(work, "input")
    target = os.path.join(work, "target")
    ckpt = os.path.join(work, "ckpt")
    os.makedirs(src)

    def ev(i, user, minute, value):
        return Row(
            event_id=i,
            ts=dt.datetime(2024, 1, 1, 0, minute, 0),
            user_id=user,
            event_type="a",
            value=float(value),
            props="{}",
        )

    from tests.conftest import write_single_parquet

    def write_file(rows, name):
        write_single_parquet(spark, rows, src, name, work)

    schema = None
    calls = []

    def _merge(batch, batch_id):
        calls.append(batch_id)
        cand = batch
        if os.path.isdir(target) and any(
            not f.startswith((".", "_")) for f in os.listdir(target)
        ):
            cand = batch.unionByName(batch.sparkSession.read.parquet(target))
        merged = dedup_latest(
            cand, ["user_id", "event_type"], order_by=["ts", "event_id"]
        ).localCheckpoint(eager=True)
        overwrite(merged, target)

    def drain():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(_merge)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.awaitTermination()
        finally:
            q.stop()

    write_file([ev(1, 1, 0, 10.0), ev(2, 2, 0, 20.0)], "f1")
    write_file([ev(3, 1, 5, 11.0)], "f2")  # newer value for user 1
    schema = spark.read.parquet(src).schema
    drain()
    first_run_batches = len(calls)
    assert first_run_batches == 2
    got = {
        r.user_id: r.value for r in spark.read.parquet(target).collect()
    }
    assert got == {1: 11.0, 2: 20.0}

    # "redeploy": a brand-new query on the same checkpoint, one new file
    # with an even newer value for user 1 and a fresh user 3.
    write_file([ev(4, 1, 9, 12.0), ev(5, 3, 9, 30.0)], "f3")
    drain()
    assert len(calls) == first_run_batches + 1  # only f3 processed
    got = {
        r.user_id: r.value for r in spark.read.parquet(target).collect()
    }
    assert got == {1: 12.0, 2: 20.0, 3: 30.0}


def test_gap_state_survives_query_restart(spark, tmp_path):
    """applyInPandasWithState across a RESTART: a new query on the same
    checkpoint must restore the state store, so a gap whose two sides
    live in different QUERY LIFETIMES (not just different batches) is
    still detected, and already-committed files are not reprocessed."""
    import datetime as dt
    import os

    from pyspark.sql.types import Row

    from tests.conftest import write_single_parquet

    def ev(i, minute):
        return Row(
            event_id=i,
            ts=dt.datetime(2024, 1, 1, 0, minute, 0),
            user_id=1,
            event_type="a",
            value=1.0,
            props="{}",
        )

    src = str(tmp_path / "restart_src")
    ckpt = str(tmp_path / "restart_ckpt")
    os.makedirs(src)

    def write_file(rows, name):
        write_single_parquet(spark, rows, src, name, tmp_path)

    def drain():
        # The memory sink is not fault-tolerant (restart on its
        # checkpoint is rejected); foreachBatch is, and supports
        # update mode — collect each micro-batch's updates locally.
        got = []

        def _collect(batch, _bid):
            got.extend(batch.collect())

        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        # State-store partition count is pinned at .start() from
        # spark.sql.shuffle.partitions — scope it down like every
        # other stateful drain in streaming/jobs.py.
        with SJ._scoped_shuffle_partitions(
            spark, SJ.STREAM_STATE_PARTITIONS
        ):
            q = (
                SJ.gap_state_query(stream)
                .writeStream.foreachBatch(_collect)
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            try:
                q.awaitTermination()
            finally:
                q.stop()
        return got

    # First query lifetime: minutes 0,1 then 5,6 (one in-lifetime gap).
    write_file([ev(1, 0), ev(2, 1)], "f1")
    write_file([ev(3, 5), ev(4, 6)], "f2")
    out1 = drain()
    final1 = max(out1, key=lambda r: r.n_events)
    assert (final1.n_events, final1.n_gap_runs) == (4, 1)

    # Restart: minute 10 — the 6 -> 10 gap spans the restart boundary
    # and is only countable from RESTORED state (last_minute_ts = :06).
    write_file([ev(5, 10)], "f3")
    rows2 = drain()
    # Only f3 processed: one update row, with cumulative state.
    assert len(rows2) == 1
    assert (rows2[0].n_events, rows2[0].n_gap_runs) == (5, 2)
    assert rows2[0].last_minute_ts == dt.datetime(2024, 1, 1, 0, 10, 0)


def test_cdc_apply_order_independent(spark, tmp_path):
    """The CDC fold (highest-seq wins, tombstones filtered at read)
    must be invariant under apply order: delete-then-update-then-insert
    merges yield the same table as the log order."""
    from pyspark.sql import functions as F

    from myserver_datawarehouse_spark.operators.merge import merge_upsert

    rows = [
        (1, "a", 10.0, "I", 1), (2, "a", 20.0, "I", 1),
        (3, "b", 30.0, "I", 1),
        (2, "a", 25.0, "U", 2),          # update row 2
        (3, "b", None, "D", 3),          # delete row 3
        (2, "a", None, "D", 3),          # delete-after-update: D wins
    ]
    schema = "event_id long, event_type string, value double, op string, seq int"

    def apply_order(order, path):
        for idx in order:
            batch = spark.createDataFrame([rows[idx]], schema)
            merge_upsert(
                spark, path, batch, keys=["event_id"], order_by=["seq"]
            )
        return {
            tuple(r)
            for r in spark.read.parquet(path)
            .filter(F.col("op") != "D")
            .collect()
        }

    fwd = apply_order(range(6), str(tmp_path / "fwd"))
    rev = apply_order(reversed(range(6)), str(tmp_path / "rev"))
    assert fwd == rev
    assert {r[0] for r in fwd} == {1}  # 2 and 3 deleted, 1 survives


def test_drain_files_takes_the_schema_from_the_staged_frame(spark, tmp_path):
    """The file-source drain reads the staged files with the staged
    frame's own schema: non-nullable literal columns (the CDC log shape)
    drain to the same rows a plain parquet read returns, and no schema
    read-back job runs outside the micro-batches."""
    input_dir = str(tmp_path / "input")
    log = spark.range(40).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 3).alias("user_id"),
        F.lit("I").alias("op"),
        F.lit(1).alias("seq"),
    )
    assert not log.schema["op"].nullable and not log.schema["seq"].nullable
    log.repartition(4).write.mode("overwrite").parquet(input_dir)

    dag = spark.sparkContext._jsc.sc().dagScheduler()
    got, batch_jobs = [], []

    def collect(batch, _batch_id):
        lo = int(dag.nextJobId())
        got.extend(tuple(r) for r in batch.collect())
        batch_jobs.append(int(dag.nextJobId()) - lo)

    lo = int(dag.nextJobId())
    SJ._drain_files(log, input_dir, 2, collect, str(tmp_path))
    drain_jobs = int(dag.nextJobId()) - lo

    want = sorted(tuple(r) for r in spark.read.parquet(input_dir).collect())
    assert len(want) == 40 and sorted(got) == want
    assert len(batch_jobs) == 2  # 4 files, 2 per trigger
    assert drain_jobs == sum(batch_jobs)
    # what the drain does not pay: reading the schema back is a job
    lo = int(dag.nextJobId())
    spark.read.parquet(input_dir).schema
    assert int(dag.nextJobId()) - lo == 1


def test_staged_files_replay_in_part_order(spark, tmp_path):
    """`_stage_files` stamps strictly ascending mtimes in part-file
    order, so the file source composes the same micro-batches on every
    run: with two files per trigger, batch k holds parts 2k and 2k+1."""
    input_dir = str(tmp_path / "input")
    frame = spark.range(40).select(F.col("id").alias("event_id"))
    SJ._stage_files(frame, input_dir, 4)
    parts = sorted(
        os.path.join(input_dir, f) for f in os.listdir(input_dir)
        if f.startswith("part-")
    )
    assert len(parts) == 4
    mtimes = [os.stat(p).st_mtime for p in parts]
    assert all(a < b for a, b in zip(mtimes, mtimes[1:])), mtimes
    ids = [{r[0] for r in spark.read.parquet(p).collect()} for p in parts]

    got = []
    SJ._drain_files(
        frame, input_dir, 2,
        lambda batch, _id: got.append({r[0] for r in batch.collect()}),
        str(tmp_path),
    )
    assert got == [ids[0] | ids[1], ids[2] | ids[3]]
