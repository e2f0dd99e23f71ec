"""Structured Streaming variants (SURVEY.md §2.12) of the reference's
hourly cadence: the minute-grain aggregation and the idempotent-upsert
dedup expressed as continuous queries over a file source.

The reference polls hourly with Airflow (`fact_gold_price.py:64-66` pulls
the last closed hour); Spark-first, the same computation is a streaming
query: file source -> event-time window aggregate with a watermark ->
sink. Batch is then just the bounded special case (`Trigger.AvailableNow`
drains the source and stops), which is how the registry runs these
deterministically against a DuckDB batch oracle.

Scale notes:
- The file source lists incrementally; `maxFilesPerTrigger` bounds batch
  size, and the windowed aggregate keeps per-key state bounded by the
  watermark horizon, not stream length.
- The memory sink is for tests/registry only — production writes parquet
  (append mode, partitioned by date) or a message bus.
- `dropDuplicates` with a watermark is the streaming analog of the batch
  merge writer's key-dedup (operators/merge.py): state holds only keys
  newer than the horizon.

Each recurring shape has one owner; the jobs call it instead of
repeating it:
- `_drain`: start an availableNow query, await it, stop it;
- `run_available_now`: a memory-sink drain (and its progress log);
- `_file_stream` / `_drain_files`: the parquet file source and its
  checkpointed foreachBatch drain, with the staged frame's schema;
- `_stage_files` / `_stage_ordered_inputs`: the staged input files
  (`repartition` part files, or one file per replay batch), with
  mtimes stamped in order by `_stamp_mtimes`;
- `_seed_target` / `_seed_inodes`: the seeded upsert target and the
  inode map of its pre-evolution files;
- `_per_batch_no`: the per-`batch_no` fan-out of a micro-batch;
- `_index_text`: the pooled text signature index writes;
- `_precedence_candidates`: the partner-precedence probe.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from myserver_datawarehouse_spark.session import parallel_actions

# events.parquet carries TIMESTAMP(NANOS); depending on the Spark build
# the scan yields either a long of nanos (legacy nanosAsLong path) or a
# native TIMESTAMP_NTZ truncated to micros. The streaming source needs an
# explicit schema, so `events_stream` probes the batch reader's resolved
# type for `ts` and declares the same, then normalizes to TIMESTAMP —
# identical semantics to sources/tables.load_table.
def _events_schema(ts_type) -> StructType:
    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", ts_type),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream of the events table with `ts` normalized to a
    session-zone TIMESTAMP (parity with the batch reader)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/events.parquet"
    ts_type = spark.read.parquet(path).schema["ts"].dataType
    raw = (
        spark.readStream.schema(_events_schema(ts_type))
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    if isinstance(ts_type, LongType):
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def minute_agg_query(stream: DataFrame):
    """Minute-grain windowed aggregate with a 10-minute watermark — the
    streaming form of operators/timeseries.minute_observations. Decimal
    accumulation keeps the result independent of batch arrival order."""
    return (
        stream.filter(F.col("value").isNotNull())
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 minute"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                / F.count("value"),
                6,
            ).alias("avg_value"),
        )
        .select(
            F.col("window.start").alias("minute_ts"),
            "event_type",
            "n_events",
            "avg_value",
        )
    )


def dedup_counts_query(stream: DataFrame):
    """Streaming exactly-once key dedup (the merge writer's semantics as
    a stream): dropDuplicates on the natural key inside the watermark
    horizon, then a running count per event_type."""
    return (
        stream.withWatermark("ts", "10 minutes")
        .dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_unique_events"))
    )


def dedup_within_watermark_query(stream: DataFrame):
    """Bounded-state streaming dedup: `dropDuplicatesWithinWatermark`
    evicts a key's dedup state once the watermark passes its event time,
    so state is O(keys inside the horizon) instead of O(every key ever
    seen) — the production dedup for INFINITE streams, where plain
    dropDuplicates on a non-event-time key grows state without bound.
    The trade: duplicates are only suppressed when they arrive within
    the watermark delay of the first copy, which is exactly the at-least
    -once-redelivery window the operator exists to absorb. On the
    bounded drain the result equals batch COUNT(DISTINCT)."""
    return (
        stream.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_unique_events"))
    )


# Stateful streaming stages hash-partition their state store by the group
# key; the partition count is pinned by the checkpoint at first start. Our
# streaming keys are low-cardinality (event_type: a handful of values), so
# 32 state partitions means 32 store init/commit cycles per micro-batch for
# ~5 live keys — per-batch fixed cost dominates. Size state partitions to
# key cardinality (production would do the same when creating the
# checkpoint; re-sizing later requires a state rebuild).
STREAM_STATE_PARTITIONS = 8


class _scoped_shuffle_partitions:
    """Set spark.sql.shuffle.partitions for the duration of a streaming
    query start (the stream's state partitioning is captured at .start()),
    restoring the session value after."""

    def __init__(self, spark: SparkSession, n: int):
        self._spark = spark
        self._n = str(n)

    def __enter__(self):
        self._saved = self._spark.conf.get("spark.sql.shuffle.partitions")
        self._spark.conf.set("spark.sql.shuffle.partitions", self._n)

    def __exit__(self, *exc):
        self._spark.conf.set("spark.sql.shuffle.partitions", self._saved)
        return False


def _drain(writer: DataStreamWriter) -> StreamingQuery:
    """Run an availableNow streaming write to the end of its bounded
    source and stop the query, also when the drain fails. Returns the
    stopped query; its progress log stays readable."""
    q = writer.trigger(availableNow=True).start()
    try:
        q.awaitTermination()
    finally:
        q.stop()
    return q


def run_available_now(
    agg: DataFrame,
    spark: SparkSession,
    sink_name: str,
    mode: str = "complete",
    progress: list | None = None,
) -> DataFrame:
    """Drain the bounded source through the streaming query into a memory
    sink and return the sink table. Registry/test harness path. Modes:
    complete (the default: every window emits regardless of watermark
    closure), append (stream-stream joins require it; inner-join matches
    emit on arrival, so the drain still yields every pair) and update (a
    stateful query's LAST update per key is its final state snapshot).
    `progress`, when given, receives the stopped query's progress log
    (`recentProgress`)."""
    with _scoped_shuffle_partitions(spark, STREAM_STATE_PARTITIONS):
        q = _drain(
            agg.writeStream.format("memory")
            .queryName(sink_name)
            .outputMode(mode)
        )
    if progress is not None:
        progress.extend(q.recentProgress)
    return agg.sparkSession.table(sink_name)


def _file_stream(
    spark: SparkSession, schema: StructType, input_dir: str, per_trigger: int
) -> DataFrame:
    """The parquet file source over `input_dir`, at most `per_trigger`
    files per micro-batch."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", per_trigger)
        .parquet(input_dir)
    )


def _drain_files(
    staged: DataFrame, input_dir: str, per_trigger: int, fn, work_dir: str
) -> None:
    """Drain the files of `staged`, a frame already written to
    `input_dir`, through `foreachBatch(fn)`, checkpointed in
    `work_dir`/ckpt. The source schema is the staged frame's own: the
    parquet round trip keeps every column type and the file source makes
    every column nullable (spark.sql.streaming.fileSource.schema.
    forceNullable), so reading the schema back (one Spark job) is not
    needed."""
    _drain(
        _file_stream(staged.sparkSession, staged.schema, input_dir, per_trigger)
        .writeStream.foreachBatch(fn)
        .option("checkpointLocation", os.path.join(work_dir, "ckpt"))
    )


def _stamp_mtimes(paths: list[str]) -> None:
    """Give `paths` strictly increasing mtimes in list order. The file
    source orders its files, and so composes its micro-batches, by
    modification time; files written by parallel tasks share
    millisecond mtimes, and ties fall back to directory-listing order,
    which differs run to run."""
    mtime = 1_700_000_000
    for p in paths:
        mtime += 10
        os.utime(p, (mtime, mtime))


def _stage_files(frame: DataFrame, input_dir: str, n: int, *cols) -> None:
    """Stage `frame` in `input_dir` as the part files of
    `repartition(n, *cols)`, with mtimes ascending in part-file order, so
    the file source composes the same micro-batches on every run."""
    frame.repartition(n, *cols).write.mode("overwrite").parquet(input_dir)
    _stamp_mtimes(sorted(
        os.path.join(input_dir, f) for f in os.listdir(input_dir)
        if f.startswith("part-")
    ))


def _stage_ordered_inputs(
    frames: list[DataFrame], work_dir: str, input_dir: str
) -> None:
    """Write frame k as the one file `input_dir`/batch_k.parquet, with
    strictly increasing mtimes: the file source orders its batches by
    modification time, so under maxFilesPerTrigger=1 frame k is replayed
    as micro-batch k. `input_dir` is cleared first. The writes are
    independent jobs over disjoint slices — pooled; the mtime stamping
    that encodes the order stays sequential after the barrier."""
    shutil.rmtree(input_dir, ignore_errors=True)
    os.makedirs(input_dir)
    stages = [os.path.join(work_dir, f"stage_{k}") for k in range(len(frames))]
    for s in stages:
        shutil.rmtree(s, ignore_errors=True)
    parallel_actions(
        *[
            (lambda f=f, s=s: f.coalesce(1).write.parquet(s))
            for f, s in zip(frames, stages)
        ]
    )
    dests = [os.path.join(input_dir, f"batch_{k}.parquet")
             for k in range(len(frames))]
    for s, dest in zip(stages, dests):
        (name,) = [f for f in os.listdir(s) if f.endswith(".parquet")]
        os.replace(os.path.join(s, name), dest)
        shutil.rmtree(s, ignore_errors=True)
    _stamp_mtimes(dests)


def _per_batch_no(fn):
    """A foreachBatch body that calls `fn(rows, batch_no)` once per
    distinct batch_no of the micro-batch, in ascending order. batch_no
    is a DATA column and a trigger may carry several input files, so
    processing per batch_no keeps each ledger's precedence rule exact."""

    def run(batch: DataFrame, _batch_id: int) -> None:
        if batch.isEmpty():
            return
        for (bno,) in sorted(batch.select("batch_no").distinct().collect()):
            fn(batch.filter(F.col("batch_no") == bno), bno)

    return run


# ---------------------------------------------------------------- stateful

GAP_STATE_SCHEMA = "n_events long, n_gap_runs long, last_minute long"
GAP_OUTPUT_SCHEMA = (
    "event_type string, n_events long, n_gap_runs long, last_minute_ts timestamp"
)


def _gap_state_fn(key, pdfs, state):
    """Custom stateful kernel (applyInPandasWithState): per event_type,
    carry (total events, gap-run count, last observed minute) across
    micro-batches in O(1) state.

    A "gap run" is a transition between consecutive distinct observed
    minutes more than one minute apart — the streaming analog of the batch
    gap detector (operators/timeseries._lead_gaps), counting runs instead
    of materializing missing minutes so state stays constant-size no
    matter how long the stream runs."""
    import pandas as pd  # local import: runs on executors

    (event_type,) = key
    n_events, n_gap_runs, last_minute = (
        state.get if state.exists else (0, 0, None)
    )
    minutes = []
    for pdf in pdfs:
        n_events += len(pdf)
        minutes.append((pdf["ts"].astype("int64") // 10**9 // 60) * 60)
    if minutes:
        uniq = pd.concat(minutes).drop_duplicates().sort_values().tolist()
        prev = last_minute
        for m in uniq:
            if prev is not None and m - prev > 60:
                n_gap_runs += 1
            prev = m
        last_minute = int(uniq[-1]) if uniq else last_minute
    state.update((n_events, n_gap_runs, last_minute))
    yield pd.DataFrame(
        {
            "event_type": [event_type],
            "n_events": [n_events],
            "n_gap_runs": [n_gap_runs],
            "last_minute_ts": [pd.Timestamp(last_minute, unit="s")],
        }
    )


def gap_state_query(stream: DataFrame):
    """SURVEY.md §2.12 custom stateful operator: the gap tracker as an
    `applyInPandasWithState` streaming query (update mode, no timeout —
    state is 3 numbers per key, bounded forever)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        stream.filter(F.col("value").isNotNull())
        .groupBy("event_type")
        .applyInPandasWithState(
            _gap_state_fn,
            outputStructType=GAP_OUTPUT_SCHEMA,
            stateStructType=GAP_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def band_join_query(stream: DataFrame, bands: DataFrame):
    """Stream-static enrichment join: every micro-batch joins against the
    static (broadcast) band dimension — STATELESS on the stream side, the
    third join shape §2.12 needs beyond windowed aggs and dedup (the
    batch twin is plans/relational.events_value_band_join). Hourly
    windowed rollup per band on top; decimal accumulation keeps the
    result independent of batch arrival order."""
    j = (
        stream.filter(F.col("value").isNotNull())
        .withWatermark("ts", "10 minutes")
        .join(
            F.broadcast(bands),
            (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
        )
    )
    return (
        j.groupBy(F.window("ts", "1 hour"), F.col("band"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
            ).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("hour_ts"),
            "band",
            "n_events",
            "sum_value",
        )
    )


def click_attribution_query(stream: DataFrame):
    """Stream-stream inner join: attribute each purchase to every click
    by the same user in the preceding hour. The hardest §2.12 shape —
    BOTH sides buffer state, and the two watermarks + the time-range
    bound are what let Spark evict it: a click older than the watermark
    minus the join range can never match a future purchase. Inner-join
    matches emit on arrival (append mode), so a bounded drain produces
    the complete pair set deterministically."""
    j = _click_buy_join(stream, "30 minutes", "INTERVAL 1 HOUR", "inner")
    mins = F.floor(
        (F.col("buy_ts").cast("long") - F.col("click_ts").cast("long")) / 60
    ).cast("long")
    return j.select(
        "user_id", "click_id", "buy_id", mins.alias("minutes_to_buy")
    )


def _click_buy_join(stream: DataFrame, delay: str, within: str, how: str):
    """Clicks (user_id, click_ts, click_id) joined `how` to the same
    user's purchases (b_user_id, buy_ts, buy_id) at or after the click
    and at most `within` (an interval literal) later, both sides
    watermarked by `delay`."""
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", delay)
    )
    buys = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("b_user_id"),
            F.col("ts").alias("buy_ts"),
            F.col("event_id").alias("buy_id"),
        )
        .withWatermark("buy_ts", delay)
    )
    return clicks.join(
        buys,
        (F.col("user_id") == F.col("b_user_id"))
        & (F.col("buy_ts") >= F.col("click_ts"))
        & (F.col("buy_ts") <= F.col("click_ts") + F.expr(within)),
        how,
    )


def session_window_query(stream: DataFrame):
    """Native dynamic-gap session windows (the 6th streaming shape):
    events of one user merge into a session while each arrives within
    SESSION_GAP of the session's current end; state per key is the open
    session, evicted once the watermark passes its close. The batch twin
    is the lag/running-sum sessionization (plans/relational.
    user_sessionization) — same 30-minute gap rule."""
    return (
        stream.filter(F.col("value").isNotNull())
        .withWatermark("ts", "10 minutes")
        .groupBy(
            F.col("user_id"),
            F.session_window("ts", "30 minutes").alias("sw"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("sw.start").alias("session_start"), "n_events")
    )


# ----------------------------------------------------- foreachBatch merge

UPSERT_KEYS = ("user_id", "event_type")
UPSERT_INPUT_FILES = 8
UPSERT_FILES_PER_TRIGGER = 2


def upsert_merge_stream(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    n_input_files: int = UPSERT_INPUT_FILES,
    files_per_trigger: int = UPSERT_FILES_PER_TRIGGER,
) -> str:
    """Continuous-ingest upsert (the 7th §2.12 shape): the reference's
    hourly ON-CONFLICT ETL (fact_gold_price.py:64-66,169-196) as a
    stream — file source drained `files_per_trigger` files per
    micro-batch, each batch bulk-merged into a parquet target with
    foreachBatch. Returns the target path.

    Precedence is EVENT-TIME (max ts, event_id per key), not arrival
    order: each merge window-dedups (batch ∪ existing) on the natural
    key ordered by (ts, event_id) desc — an associative, commutative
    latest-wins fold, so the final table is byte-identical no matter how
    the input was split into batches or which batch a row arrived in
    (asserted in tests/test_streaming.py). That is what makes replays and
    out-of-order arrival safe — the reference gets the same property from
    its idempotent per-row upsert, at N round trips per batch.

    Scale: foreachBatch is THE streaming-into-warehouse pattern — each
    micro-batch runs one bulk merge (one key shuffle over batch +
    touched partitions, see operators/merge.py); on Delta this body
    becomes `MERGE INTO` unchanged."""
    from myserver_datawarehouse_spark.operators.merge import (
        merge_upsert,
        vacuum_path_table,
    )
    from myserver_datawarehouse_spark.sources.tables import load_table

    input_dir = os.path.join(work_dir, "input")
    target = os.path.join(work_dir, "target")
    # Arrival simulation: split the (ts-normalized) events table into N
    # parquet files; the file source lists them incrementally.
    events = load_table(spark, sf_dir, "events")
    _stage_files(events, input_dir, n_input_files)

    def _merge(batch: DataFrame, _batch_id: int) -> None:
        # The WAP-committed merge writer makes every micro-batch merge
        # atomic: a failure mid-rewrite can never leave the target
        # half-deleted while the checkpoint replays only this batch.
        # order_by keeps the event-time precedence that makes the fold
        # batch-split invariant.
        merge_upsert(
            batch.sparkSession,
            target,
            batch,
            keys=list(UPSERT_KEYS),
            order_by=["ts", "event_id"],
        )
        # Retention: each micro-batch commit is a whole new snapshot
        # version, so an unvacuumed N-batch stream holds O(N x table)
        # on disk. Streaming targets don't need time travel across
        # batches — vacuum down to the published snapshot right away
        # (safe concurrently with the NEXT batch's publish: vacuum only
        # sweeps strictly-older versions, under the commit lock).
        vacuum_path_table(target)

    _drain_files(events, input_dir, files_per_trigger, _merge, work_dir)
    return target


# ------------------------------------------------- semantics contracts
# The two streaming-semantics contracts as driver-adjudicated registry
# queries: checkpoint restart exactly-once, and watermark late-drop
# accounting.

RESTART_COLS = ("event_id", "ts", "event_type", "value")


def restart_exactly_once_stream(
    spark: SparkSession, sf_dir: str, work_dir: str
) -> str:
    """Exactly-once across a RESTART, end to end: the events table is
    split in two halves (event_id parity), the stream drains half A to
    a parquet file sink under a checkpoint, STOPS, half B arrives, and
    a brand-new query object restarts FROM THE SAME CHECKPOINT. The
    checkpoint's file-source offset log must skip A's files entirely
    and the sink's _spark_metadata commit log must record each batch
    once — any replay doubles the counts, any loss drops them, and the
    DuckDB oracle (the plain batch rollup over ALL events) catches
    either. This is the §2.12 checkpoint-restart contract as a driver-
    adjudicated query rather than a pytest assertion.

    Returns the sink path; the caller reads it back (the read honors
    _spark_metadata, i.e. only committed files count)."""
    from myserver_datawarehouse_spark.sources.tables import load_table

    src = os.path.join(work_dir, "src")
    ckpt = os.path.join(work_dir, "ckpt")
    sink = os.path.join(work_dir, "sink")
    for d in (src, ckpt, sink):
        shutil.rmtree(d, ignore_errors=True)

    base = load_table(spark, sf_dir, "events").select(*RESTART_COLS)
    half_a = base.filter(F.pmod(F.col("event_id"), F.lit(2)) == 0)
    half_b = base.filter(F.pmod(F.col("event_id"), F.lit(2)) == 1)
    schema = base.schema

    def drain(new_half: DataFrame) -> None:
        new_half.write.mode("append").parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        _drain(
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
        )

    drain(half_a)  # first incarnation: drains A, commits offsets
    drain(half_b)  # restart from the SAME checkpoint: must drain ONLY B
    return sink


WATERMARK_AUDIT_DELAY_MIN = 30
WATERMARK_AUDIT_WINDOW_MIN = 1
WATERMARK_AUDIT_BATCHES = 3


def watermark_audit_stream(
    spark: SparkSession, sf_dir: str, work_dir: str
) -> tuple[DataFrame, int]:
    """Watermark late-data accounting, made adjudicable: events replay
    in THREE deterministic interleaved batches (event_id mod 3, batch
    order pinned by strictly-increasing file mtimes +
    maxFilesPerTrigger=1), so batches 1 and 2 deliver massively late
    rows against a watermark already advanced by batch 0. The append-
    mode windowed aggregate emits only watermark-closed windows, and
    the state operator's numRowsDroppedByWatermark counts the rows the
    engine refused. Both numbers are DETERMINISTIC functions of
    (data, batch split, delay) and the registry oracle recomputes them
    in SQL from the same model — see
    plans/streaming_plans.streaming_watermark_audit for the exact
    boundary semantics (calibrated against Spark's eviction rules).

    Returns (emitted-window frame from the memory sink, total dropped
    row count observed via query progress)."""
    from myserver_datawarehouse_spark.sources.tables import load_table

    src = os.path.join(work_dir, "src")
    base = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("event_id", "ts")
    )
    nb = WATERMARK_AUDIT_BATCHES
    _stage_ordered_inputs(
        [base.filter(F.pmod(F.col("event_id"), F.lit(nb)) == k) for k in range(nb)],
        work_dir,
        src,
    )
    agg = (
        _file_stream(spark, base.schema, src, 1)
        .withWatermark("ts", f"{WATERMARK_AUDIT_DELAY_MIN} minutes")
        .groupBy(
            F.window(
                "ts", f"{WATERMARK_AUDIT_WINDOW_MIN} minute"
            ).alias("w")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("w_start"), "n")
    )
    progress = []
    emitted = run_available_now(
        agg, spark, "streaming_watermark_audit_sink", "append", progress
    )
    dropped = sum(
        int(op.get("numRowsDroppedByWatermark", 0))
        for p in progress
        for op in (p.get("stateOperators") or [])
    )
    return emitted, dropped


# ----------------------------------------------------- CDC apply sink

CDC_APPLY_FILES = 8
CDC_APPLY_FILES_PER_TRIGGER = 2


def cdc_apply_stream(
    spark: SparkSession, sf_dir: str, work_dir: str
) -> str:
    """Apply a CHANGE-DATA-CAPTURE log as a stream (the consuming
    counterpart of `operators/merge.table_changes`, which produces
    one): a CDC log of insert/update/delete records drains through
    foreachBatch into a WAP-committed target. Returns the target path.

    Order-independence is the design point: a CDC consumer cannot
    assume the file source hands it batches in log order, so instead
    of applying ops sequentially the merge keeps the HIGHEST-SEQUENCE
    record per key (`order_by=["seq"]` precedence — the Kafka
    log-compaction rule), with deletes riding along as TOMBSTONE rows
    that win by sequence and are filtered at read. The fold is
    associative and commutative, so the final table is byte-identical
    under ANY batch split or arrival order — same invariance argument
    as `upsert_merge_stream`, extended to deletes.

    At 100 TB the tombstone filter is the read-side of merge-on-read;
    the scheduled compaction that physically drops tombstones is
    `delete_where` + `compact_table` (see deletion_vector_audit).

    The synthetic log exercises every op class: all events as base
    inserts (seq 1), purchase-value updates (seq 2), GDPR-cohort
    deletes (seq 3, overlapping the updates so delete-after-update
    precedence is genuinely tested)."""
    from myserver_datawarehouse_spark.plans.relational import (
        CDF_UPDATE_BUMP,
        ERASURE_MOD,
    )
    from myserver_datawarehouse_spark.sources.tables import load_table

    input_dir = os.path.join(work_dir, "input")
    target = os.path.join(work_dir, "target")
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    base = e.select(
        "*", F.lit("I").alias("op"), F.lit(1).alias("seq")
    )
    updates = (
        e.filter(F.col("event_type") == "purchase")
        .withColumn("value", F.col("value") + F.lit(CDF_UPDATE_BUMP))
        .select("*", F.lit("U").alias("op"), F.lit(2).alias("seq"))
    )
    deletes = e.filter(
        F.pmod(F.col("user_id"), F.lit(ERASURE_MOD)) == 0
    ).select("*", F.lit("D").alias("op"), F.lit(3).alias("seq"))
    cdc = base.unionByName(updates).unionByName(deletes)
    _stage_files(cdc, input_dir, CDC_APPLY_FILES)
    _drain_files(
        cdc, input_dir, CDC_APPLY_FILES_PER_TRIGGER, _cdc_applier(target), work_dir
    )
    return target


def _cdc_applier(target: str):
    """foreachBatch body applying a CDC micro-batch to `target`:
    highest-sequence record per event_id wins, then vacuum."""
    from myserver_datawarehouse_spark.operators.merge import (
        merge_upsert,
        vacuum_path_table,
    )

    def _apply(batch: DataFrame, _batch_id: int) -> None:
        merge_upsert(
            batch.sparkSession,
            target,
            batch,
            keys=["event_id"],
            order_by=["seq"],
        )
        vacuum_path_table(target)

    return _apply


def cdc_replicate_stream(
    spark: SparkSession, sf_dir: str, work_dir: str
) -> tuple[str, str, str]:
    """End-to-end CDC REPLICATION: the producer and consumer halves the
    engine already ships, wired together (the Delta-CDF replication
    pattern, proved as a contract rather than two fixtures):

      1. a PRIMARY table publishes v1, then v2 via WAP
         (`publish_overwrite`) — v2 carries deletes (GDPR cohort),
         updates (purchase-value bump) and inserts (re-keyed
         survivors), the same change mix `table_changes_feed`
         adjudicates;
      2. the change feed is EXTRACTED with `operators/merge.
         table_changes(v1, v2)` — the producer — and serialized as a
         CDC log: insert→I / update→U / delete→D ops at sequence 2,
         after a sequence-1 base snapshot of v1 (how a replica
         bootstraps from a checkpoint + tail);
      3. a REPLICA table consumes the log through the streaming
         `foreachBatch` merge with highest-sequence precedence and
         tombstone deletes (`cdc_apply_stream` semantics) — the
         consumer.

    The contract under test: replica(after drain) ≡ primary@v2,
    row-for-row, REGARDLESS of how the file source batches the log.
    `streaming_cdc_replication` adjudicates both the replica rollup
    and a null-safe full-outer mismatch count against v2 (must be 0).

    Returns (replica_path, primary_root, v2_version).

    Scale: the feed is one key-shuffled full-outer diff (see
    table_changes); the apply is per-batch merge cost; the replica
    never sees the primary's storage — only the log — which is exactly
    why this pattern scales cross-region at 100 TB."""
    from myserver_datawarehouse_spark.operators.merge import (
        publish_overwrite,
        read_version,
        table_changes,
    )
    from myserver_datawarehouse_spark.plans.relational import (
        CDF_INSERT_MOD,
        CDF_INSERT_OFFSET,
        CDF_UPDATE_BUMP,
        ERASURE_MOD,
    )
    from myserver_datawarehouse_spark.sources.tables import load_table

    primary = os.path.join(work_dir, "primary")
    input_dir = os.path.join(work_dir, "input")
    replica = os.path.join(work_dir, "replica")

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    v1 = publish_overwrite(spark, primary, e)
    survivors = e.filter(
        F.pmod(F.col("user_id"), F.lit(ERASURE_MOD)) != 0
    )
    updated = survivors.withColumn(
        "value",
        F.when(
            F.col("event_type") == "purchase",
            F.col("value") + F.lit(CDF_UPDATE_BUMP),
        ).otherwise(F.col("value")),
    )
    inserts = survivors.filter(
        F.pmod(F.col("event_id"), F.lit(CDF_INSERT_MOD)) == 0
    ).select(
        (F.col("event_id") + F.lit(CDF_INSERT_OFFSET)).alias("event_id"),
        "user_id",
        "event_type",
        "value",
    )
    v2 = publish_overwrite(spark, primary, updated.unionByName(inserts))

    # --- producer: extract the feed from the retained snapshots
    feed = table_changes(
        spark, primary, v1, v2, keys=["event_id"]
    ).filter(F.col("change_type") != "unchanged")
    ops = feed.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.when(F.col("change_type") == "insert", F.lit("I"))
        .when(F.col("change_type") == "update", F.lit("U"))
        .otherwise(F.lit("D"))
        .alias("op"),
        F.lit(2).alias("seq"),
    )
    base = read_version(spark, primary, v1).select(
        "*", F.lit("I").alias("op"), F.lit(1).alias("seq")
    )
    log = base.unionByName(ops)
    _stage_files(log, input_dir, CDC_APPLY_FILES)

    # --- consumer: drain the log into the replica (order-independent)
    _drain_files(
        log, input_dir, CDC_APPLY_FILES_PER_TRIGGER, _cdc_applier(replica), work_dir
    )
    return replica, primary, v2


def evolved_upsert_stream(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    n_input_files: int = UPSERT_INPUT_FILES,
    files_per_trigger: int = UPSERT_FILES_PER_TRIGGER,
) -> str:
    """Continuous ingest INTO AN EVOLVED TABLE (streaming x
    partition-spec evolution): the target starts as an UNPARTITIONED
    manifest table seeded with the even-event_id half of the corpus
    (latest row per (user_id, event_type)), its spec then evolves to
    partition by event_type, and the odd half streams in through
    foreachBatch -> evolution.evolved_merge. Every micro-batch lands
    in the new layout; rows it supersedes in the pre-evolution layout
    die by equality-delete sidecar — the seeded files are never
    rewritten (asserted by the registry audit's inode flag).

    The merge is the same associative event-time fold as
    upsert_merge_stream (order_by = ts, event_id desc), so the final
    logical table is byte-identical no matter how the stream was split
    into batches — which is what lets one DuckDB oracle (latest row
    per key over ALL events) adjudicate the whole pipeline.

    Partition-stability note: the evolved spec is (event_type) — a
    component of the MERGE KEY, hence trivially stable per key. A spec
    on a key-mobile column (e.g. day under latest-wins) would be
    outside the merge contract, same as merge_upsert's.

    Returns the manifest table root."""
    from myserver_datawarehouse_spark.operators import evolution as EV
    from myserver_datawarehouse_spark.operators import merge as M

    input_dir = os.path.join(work_dir, "input")
    root = os.path.join(work_dir, "evolved_target")
    odd = _seed_target(spark, sf_dir, root, input_dir, n_input_files, evolve=True)
    # Record the seed layout's (file -> inode) map so the registry
    # audit can prove, after N micro-batch merges + vacuums, that the
    # pre-evolution data files were never rewritten.
    with open(os.path.join(work_dir, "seed_inodes.json"), "w") as fh:
        json.dump(_seed_inodes(os.path.join(root, M._published_version(root))), fh)

    def _merge(batch: DataFrame, _batch_id: int) -> None:
        EV.evolved_merge(
            batch.sparkSession,
            root,
            batch,
            keys=["user_id", "event_type"],
            order_by=["ts", "event_id"],
        )
        # Same retention rule as upsert_merge_stream: a streaming
        # target needs no cross-batch time travel; hardlink carry
        # makes the per-batch vacuum metadata-cheap.
        M.vacuum_versions(root)

    _drain_files(odd, input_dir, files_per_trigger, _merge, work_dir)
    return root


def _seed_target(
    spark: SparkSession,
    sf_dir: str,
    root: str,
    input_dir: str,
    n_input_files: int,
    evolve: bool = False,
    **publish_kw,
) -> DataFrame:
    """The seeded-target setup of the manifest-root upsert streams:
    publish the latest row per (user_id, event_type) of the
    even-event_id half of the events at `root` (with `publish_kw`), evolve
    its spec to (event_type) when `evolve`, and stage the odd half as
    `n_input_files` files in `input_dir`. Returns the staged frame."""
    from myserver_datawarehouse_spark.operators import evolution as EV
    from myserver_datawarehouse_spark.operators import merge as M
    from myserver_datawarehouse_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    seed = M.dedup_latest(
        ev.filter(F.col("event_id") % 2 == 0),
        ["user_id", "event_type"],
        order_by=["ts", "event_id"],
    )
    M.publish_overwrite(spark, root, seed, **publish_kw)
    if evolve:
        EV.evolve_partition_spec(spark, root, ["event_type"])
    odd = ev.filter(F.col("event_id") % 2 == 1)
    _stage_files(odd, input_dir, n_input_files)
    return odd


def _seed_inodes(vdir: str) -> dict[str, int]:
    """(file name -> inode) of the parquet data files in layout 0 of the
    table version `vdir`: the files of the pre-evolution seed."""
    from myserver_datawarehouse_spark.operators import evolution as EV

    inodes = {}
    for r, dirs, files in os.walk(EV._layout_dir(vdir, 0)):
        dirs[:] = [d for d in dirs if not d.startswith("_")]
        for f in files:
            if f.endswith(".parquet"):
                inodes[f] = os.stat(os.path.join(r, f)).st_ino
    return inodes


def compaction_race_stream(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    n_input_files: int = UPSERT_INPUT_FILES,
    files_per_trigger: int = UPSERT_FILES_PER_TRIGGER,
) -> str:
    """Compaction RACING a live stream (streaming x table maintenance,
    the 15th §2.12 shape): the evolved-table ingest of
    `evolved_upsert_stream`, with table maintenance interleaved
    BETWEEN micro-batches of the same running foreachBatch query —

      batch 0: evolved_merge (two layouts in play);
      batch 1: evolved_merge, then a compaction whose manifest commit
               CRASHES (injected) — the WAP protocol must leave the
               published snapshot byte-identical and the stream
               running;
      batch 2: evolved_merge over the still-evolved table (proving the
               crashed compaction changed nothing), then a REAL
               compaction folds all layouts + delete sidecars into one
               plain partitioned snapshot mid-stream;
      batch 3: the writer routes by table state and takes the plain
               merge_upsert fast path into the compacted layout.

    Every step holds exactly-once: merges are the associative
    event-time fold (batch-split invariant) and compaction is a
    logical no-op (same rows, new layout), so the final table must
    equal the batch latest-per-key oracle — any row lost or duplicated
    by the crash, the compaction, or the layout switch flips the
    adjudicated hash. Run flags (crash left version intact; compaction
    actually collapsed the specs; post-compaction batches really took
    the plain path) are written to `race_flags.json` for the registry
    audit.

    Returns the manifest table root."""
    from myserver_datawarehouse_spark.operators import evolution as EV
    from myserver_datawarehouse_spark.operators import merge as M

    input_dir = os.path.join(work_dir, "input")
    root = os.path.join(work_dir, "race_target")
    odd = _seed_target(spark, sf_dir, root, input_dir, n_input_files, evolve=True)
    flags = {
        "crash_left_version_intact": False,
        "stream_survived_crash": False,
        "compaction_collapsed_specs": False,
        "plain_path_batches": 0,
    }

    def _merge(batch: DataFrame, batch_id: int) -> None:
        s = batch.sparkSession
        vdir = os.path.join(root, M._published_version(root))
        evolved = EV._specs(vdir) is not None
        if evolved:
            EV.evolved_merge(
                s, root, batch,
                keys=["user_id", "event_type"],
                order_by=["ts", "event_id"],
            )
            if batch_id >= 2:
                # A batch after the injected crash still sees the
                # evolved table — the crash really changed nothing.
                flags["stream_survived_crash"] = True
        else:
            # Post-compaction: the writer routes by table state and
            # takes the plain partitioned fast path (manifest-root
            # variant — touched-partition fold + hardlink carry).
            M.merge_upsert_published(
                s, root, batch,
                keys=["user_id", "event_type"],
                partition_by=["event_type"],
                order_by=["ts", "event_id"],
            )
            flags["plain_path_batches"] += 1
        if batch_id == 1:
            # Compaction attempt whose manifest commit crashes: WAP
            # must leave the published snapshot untouched.
            before = M._published_version(root)
            real = M._commit_manifest

            class _InjectedCommitCrash(RuntimeError):
                pass

            def _boom(*a, **k):
                raise _InjectedCommitCrash(
                    "injected compaction-commit crash"
                )

            # Module-global patch of the one manifest commit every
            # writer goes through: intentional single-writer scope —
            # any other table committing in this driver process during
            # the window would crash too. The dedicated exception type
            # keeps the except arm from swallowing an unrelated
            # RuntimeError out of compact_evolved as the expected
            # injected crash.
            M._commit_manifest = _boom
            try:
                EV.compact_evolved(s, root)
            except _InjectedCommitCrash:
                pass
            finally:
                M._commit_manifest = real
            flags["crash_left_version_intact"] = (
                M._published_version(root) == before
            )
        elif batch_id == 2:
            EV.compact_evolved(s, root)
            new_vdir = os.path.join(root, M._published_version(root))
            flags["compaction_collapsed_specs"] = (
                EV._specs(new_vdir) is None
            )
        M.vacuum_versions(root)

    _drain_files(odd, input_dir, files_per_trigger, _merge, work_dir)
    with open(os.path.join(work_dir, "race_flags.json"), "w") as fh:
        json.dump(flags, fh)
    return root


OUTER_ATTR_BATCHES = 3
OUTER_ATTR_DELAY_MIN = 30
OUTER_ATTR_RANGE_MIN = 60


def outer_attribution_stream(
    spark: SparkSession, sf_dir: str, work_dir: str
) -> DataFrame:
    """LEFT OUTER stream-stream join (the missing §2.12 shape next to
    the inner `click_attribution_query`): every click joins its
    purchases within {range} minutes; clicks with NO purchase emit a
    null-extended row — but only once the watermark PROVES no match
    can still arrive (the left row is evicted from state). Events
    replay in {nb} TIME-ORDERED batches (tertile split, file order
    pinned by mtime), so the watermark advances monotonically and the
    emitted set is a deterministic function of (data, delay, range):

      matches   — every qualifying (click, buy) pair (inner results
                  emit on arrival; time-ordered replay means a click
                  is never evicted before its in-range buys arrived);
      null rows — unmatched clicks old enough that the final watermark
                  closed their match window (the exact boundary is
                  calibrated in the registry oracle — see
                  streaming_plans.streaming_outer_attribution);
      withheld  — unmatched clicks whose window the watermark has NOT
                  closed stay in state at stop and are absent: the
                  honest outer-join contract, same one Delta/Flink
                  pipelines live with.

    availableNow runs the final no-data flush batch whenever the last
    data batch advanced the watermark, so eviction results land before
    the query stops."""
    from myserver_datawarehouse_spark.sources.tables import load_table

    src = os.path.join(work_dir, "src")
    base = (
        load_table(spark, sf_dir, "events")
        .filter(
            F.col("ts").isNotNull()
            & F.col("event_type").isin("click", "purchase")
        )
        .select("event_id", "ts", "user_id", "event_type")
    )
    bounds = base.select(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).collect()[0]
    lo, hi = bounds["lo"], bounds["hi"]
    span = (hi - lo) / OUTER_ATTR_BATCHES

    def _slice(k: int) -> DataFrame:
        # Last batch is UNBOUNDED above: timedelta division loses
        # sub-microsecond precision, so lo + 3*span can land a hair
        # BELOW the true max timestamp — an upper bound would then
        # silently drop the max row, shifting the watermark the oracle
        # models (caught by a 3-row diff at sf0.01).
        cond = F.col("ts") >= F.lit(lo + span * k)
        if k < OUTER_ATTR_BATCHES - 1:
            cond = cond & (F.col("ts") < F.lit(lo + span * (k + 1)))
        return base.filter(cond)

    _stage_ordered_inputs(
        [_slice(k) for k in range(OUTER_ATTR_BATCHES)], work_dir, src
    )
    j = _click_buy_join(
        _file_stream(spark, base.schema, src, 1),
        f"{OUTER_ATTR_DELAY_MIN} minutes",
        f"INTERVAL {OUTER_ATTR_RANGE_MIN} MINUTES",
        "left_outer",
    )
    return run_available_now(
        j.select("user_id", "click_id", "click_ts", "buy_id"),
        spark,
        "streaming_outer_attribution_sink",
        "append",
    )


outer_attribution_stream.__doc__ = outer_attribution_stream.__doc__.format(
    range=OUTER_ATTR_RANGE_MIN, nb=OUTER_ATTR_BATCHES
)


def bloom_maintained_stream(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    n_input_files: int = UPSERT_INPUT_FILES,
    files_per_trigger: int = UPSERT_FILES_PER_TRIGGER,
) -> str:
    """Bloom-indexed table under continuous ingest (16th §2.12 shape):
    the manifest-root upsert stream writing into a table whose publish
    registered a per-file bloom sidecar on the UNCLUSTERED point-lookup
    key (`event_id`) — every micro-batch merge must CARRY the index
    forward (sources/files.carry_bloom_sidecar: hardlink-carried
    partitions keep their rows verbatim, rewritten files get one fresh
    bloom pass), with vacuum running between batches to prove the
    sidecar is self-contained per version. After the stream drains, the
    job probes the FINAL sidecar with surviving keys and records the
    zero-false-negative contract to `bloom_flags.json`:

      bloom_carried         — the final published version still has the
                              event_id sidecar with a row per data file;
      zero_false_negatives  — a bloom-pruned point lookup returns
                              exactly the full-scan rows for every probe.

    This is the standing-manifest-stat lifecycle end to end: commit
    registers, merges maintain incrementally, vacuum can't orphan it,
    lookups prune against it. Returns the manifest table root."""
    from myserver_datawarehouse_spark.operators import merge as M
    from myserver_datawarehouse_spark.sources import files as FS

    input_dir = os.path.join(work_dir, "input")
    root = os.path.join(work_dir, "bloom_target")
    odd = _seed_target(
        spark,
        sf_dir,
        root,
        input_dir,
        n_input_files,
        partition_by=["event_type"],
        bloom_columns=["event_id"],
    )

    def _merge(batch: DataFrame, _batch_id: int) -> None:
        M.merge_upsert_published(
            batch.sparkSession,
            root,
            batch,
            keys=["user_id", "event_type"],
            partition_by=["event_type"],
            order_by=["ts", "event_id"],
        )
        M.vacuum_versions(root)

    _drain_files(odd, input_dir, files_per_trigger, _merge, work_dir)
    final = os.path.join(root, M._published_version(root))
    carried = FS.bloom_sidecar_columns(final) == ["event_id"]
    if carried:
        covered = FS._sidecar_paths_local(
            os.path.join(final, "_blooms", "event_id")
        )
        carried = covered == set(FS._data_files_relative(final))
    table = M.read_published(spark, root)
    probes = [
        int(r["event_id"])
        for r in table.orderBy("event_id").limit(3).collect()
    ]
    keep, _total = FS.bloom_prune_files(spark, final, "event_id", probes)
    # The pruned-read count and the full-scan count are independent
    # jobs over the same snapshot — pooled.
    pruned_n, full_n = parallel_actions(
        lambda: spark.read.parquet(*keep)
        .filter(F.col("event_id").isin(*probes))
        .count(),
        lambda: table.filter(F.col("event_id").isin(*probes)).count(),
    )
    flags = {
        "bloom_carried": bool(carried),
        "zero_false_negatives": bool(pruned_n == full_n and full_n > 0),
    }
    with open(os.path.join(work_dir, "bloom_flags.json"), "w") as fh:
        json.dump(flags, fh)
    return root


# ------------------------------------------------- streaming IVF ingest

IVF_INGEST_BATCHES = 3  # arrivals split by vec_id % 3 -> 3 micro-batches


def ivf_ingest_stream(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    cents: int = 48,
    batch_mod: int = 10,
) -> str:
    """Streaming IVF index INGEST (17th §2.12 shape) — the nightly
    maintenance loop of a production vector store, run as a real
    micro-batch stream: the index is SEEDED from the base corpus
    (vec_id % batch_mod < 8) under a quantizer trained on base
    (the first `cents` base ids, the deterministic stand-in of
    plans/embeddings.ivf_incremental_ingest_audit), then the arrival
    cohort streams in one micro-batch per batch_no (vec_id %
    IVF_INGEST_BATCHES) through foreachBatch:

      - each arrival is assigned to the STANDING quantizer by one
        broadcast-centroid map-only pass (argmax over `cents` rows —
        the index's inverted lists are never rewritten or reshuffled);
      - the per-arrival DRIFT bit rides along: would a retrained
        quantizer (the full corpus's first `cents` ids — a superset,
        'new centroid candidates arrived') pull this vector to a
        strictly better centroid? Accumulated per batch, that is the
        `n_would_move` trajectory a store monitors to schedule the
        retrain;
      - the (vec_id, batch_no, cell, would_move) ledger rows APPEND to
        the cells table — O(batch) bytes per commit, the property that
        makes continuous embedding ingest affordable at 100 TB.

    Assignment is a pure per-vector function of (vector, centroids),
    so the final ledger is identical however the file source batches
    the arrivals — batch_no is a DATA column, not the trigger id —
    which is what makes the census + trajectory adjudicable against a
    batch oracle. Returns the cells ledger path."""
    from myserver_datawarehouse_spark.operators import vectors as V
    from myserver_datawarehouse_spark.sources.tables import load_table

    input_dir = os.path.join(work_dir, "input")
    cells_dir = os.path.join(work_dir, "cells")
    cent_a_dir = os.path.join(work_dir, "cent_standing")
    cent_b_dir = os.path.join(work_dir, "cent_retrained")

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", V.norm2("embedding").alias("nrm")
    )
    is_batch = (F.col("vec_id") % batch_mod) >= 8
    cent_cols = (
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("c"),
        F.col("nrm").alias("nc"),
    )
    e.filter((F.col("vec_id") < cents) & ~is_batch).select(
        *cent_cols
    ).coalesce(1).write.mode("overwrite").parquet(cent_a_dir)
    e.filter(F.col("vec_id") < cents).select(*cent_cols).coalesce(
        1
    ).write.mode("overwrite").parquet(cent_b_dir)

    def _ledger(vecs: DataFrame) -> DataFrame:
        """(vec_id, batch_no, cell, would_move) for any (vec_id,
        embedding, nrm, batch_no) frame — the audit's two-quantizer
        assignment, broadcast map-only, rounding and tie-breaks
        identical to ivf_incremental_ingest_audit."""
        sp = vecs.sparkSession
        cos = F.when(
            (F.col("nrm") > 0) & (F.col("nc") > 0),
            V.dot("embedding", "c") / (F.col("nrm") * F.col("nc")),
        )
        w = Window.partitionBy("vec_id").orderBy(
            F.col("cent_cos").desc_nulls_last(), F.col("cid")
        )

        def assign(cent_dir: str) -> DataFrame:
            return (
                vecs.join(F.broadcast(sp.read.parquet(cent_dir)))
                .select(
                    "vec_id",
                    "batch_no",
                    "cid",
                    F.round(cos, 6).alias("cent_cos"),
                )
                .withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select("vec_id", "batch_no", "cid", "cent_cos")
            )

        a = assign(cent_a_dir)
        b = assign(cent_b_dir).select(
            F.col("vec_id").alias("bv"),
            F.col("cid").alias("b_cid"),
            F.col("cent_cos").alias("b_cos"),
        )
        return a.join(b, F.col("vec_id") == F.col("bv")).select(
            "vec_id",
            "batch_no",
            F.col("cid").alias("cell"),
            (
                (F.col("b_cid") != F.col("cid"))
                & (F.col("b_cos") > F.col("cent_cos"))
            ).alias("would_move"),
        )

    # Seed: the standing index = base corpus assigned to the standing
    # quantizer, ledgered as batch_no -1 (the pre-stream census).
    _ledger(
        e.filter(~is_batch).withColumn("batch_no", F.lit(-1).cast("int"))
    ).write.mode("overwrite").parquet(cells_dir)

    arrivals = e.filter(is_batch).select(
        "vec_id",
        "embedding",
        F.pmod(F.col("vec_id"), F.lit(IVF_INGEST_BATCHES))
        .cast("int")
        .alias("batch_no"),
    )
    _stage_files(arrivals, input_dir, IVF_INGEST_BATCHES, "batch_no")

    def _ingest(batch: DataFrame, _batch_id: int) -> None:
        vecs = batch.select(
            "vec_id",
            "embedding",
            V.norm2("embedding").alias("nrm"),
            "batch_no",
        )
        _ledger(vecs).write.mode("append").parquet(cells_dir)

    _drain_files(arrivals, input_dir, 1, _ingest, work_dir)
    return cells_dir


NEAR_DUP_INGEST_BATCHES = 3  # arrivals split by (doc_id div 5) % 3


def _index_text(
    frame: DataFrame, bno: int, dirs: tuple[str, str, str], sub: str, *also
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Index the text signatures of a (doc_id, text) frame — the scheme
    of plans/llm_text.near_dup_incremental_lsh, with the batch number on
    every band row — into the `sub` subdir of each of `dirs` (bands,
    shingle hashes, set sizes), with mode=overwrite. The three writes and
    the `also` thunks are independent jobs over one persisted shingle
    frame — pooled; the barrier keeps the write-before-probe ordering.
    Returns (hashes, sizes, bands); the caller unpersists the hashes."""
    from myserver_datawarehouse_spark.plans.llm_text import (
        _minhash_signature_bands,
        _shingle_hashes,
    )

    hs = _shingle_hashes(frame)
    hs.persist()
    sig, bd = _minhash_signature_bands(
        hs, F.lit(bno).cast("int").alias("batch_no")
    )
    sz = sig.select("doc_id", "n")
    parallel_actions(
        *[
            (lambda f=f, d=d: f.write.mode("overwrite").parquet(os.path.join(d, sub)))
            for f, d in zip((bd, hs, sz), dirs)
        ],
        *also,
    )
    return hs, sz, bd


def _near_dup_ingest_one(
    sp: SparkSession,
    bands_dir: str,
    hashes_dir: str,
    sizes_dir: str,
    ledger_dir: str,
    one: DataFrame,
    bno: int,
) -> None:
    """Process ONE arrival batch: index its signatures, probe the
    (self-inclusive) band index, exact-Jaccard verify, ledger the
    surviving dup edges. Every write lands in a batch-keyed subdir
    with mode=overwrite, so a micro-batch REPLAY (checkpoint restart
    after a partial commit) rewrites the same subdirs byte-for-byte
    instead of double-appending — the index the later batches probe
    can never accumulate duplicate signature rows (replay-idempotency;
    regression-pinned in tests/test_round12b.py)."""
    sub = f"b{bno}"
    dirs = (bands_dir, hashes_dir, sizes_dir)
    # index first (self-inclusive probe)
    hs, sz, bd = _index_text(one, bno, dirs, sub)
    _near_dup_verified_pairs(sp, dirs, hs, sz, bd, bno).write.mode(
        "overwrite"
    ).parquet(os.path.join(ledger_dir, sub))
    hs.unpersist()


def _near_dup_verified_pairs(
    sp: SparkSession,
    dirs: tuple[str, str, str],
    hs: DataFrame,
    sz: DataFrame,
    bd: DataFrame,
    bno: int,
) -> DataFrame:
    """Probe ONE (already-indexed) arrival batch against the standing
    band index and return its verified dup edges (batch_no, doc_new,
    doc_partner, jaccard) — the probe half of `_near_dup_ingest_one`,
    factored out so the streaming curation ledger's text arm runs the
    IDENTICAL candidate + verify path. `dirs` are the (bands, hashes,
    sizes) index roots."""
    from myserver_datawarehouse_spark.plans.llm_text import JACCARD_TAU

    bands_dir, hashes_dir, sizes_dir = dirs
    cand = _precedence_candidates(bd, _read_tree(sp, bands_dir), ["bk"])
    idx_h = _read_tree(sp, hashes_dir)
    idx_n = _read_tree(sp, sizes_dir)
    inter = (
        F.broadcast(cand)
        .join(hs.alias("ha"), F.col("doc_new") == F.col("ha.doc_id"))
        .join(
            idx_h.alias("hb"),
            (F.col("doc_partner") == F.col("hb.doc_id"))
            & (F.col("ha.h") == F.col("hb.h")),
        )
        .groupBy("doc_new", "doc_partner")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.col("inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("inter")
    ).cast("double")
    return (
        inter.join(
            F.broadcast(
                sz.select(
                    F.col("doc_id").alias("doc_new"),
                    F.col("n").alias("na"),
                )
            ),
            "doc_new",
        )
        .join(
            idx_n.select(
                F.col("doc_id").alias("doc_partner"),
                F.col("n").alias("nb"),
            ),
            "doc_partner",
        )
        .select(
            F.lit(bno).cast("int").alias("batch_no"),
            "doc_new",
            "doc_partner",
            F.round(jac, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_TAU)
    )


def _read_tree(sp: SparkSession, root: str) -> DataFrame:
    """Read a dir of per-batch parquet subdirs as one frame."""
    return (
        sp.read.option("recursiveFileLookup", "true").parquet(root)
    )


def near_dup_ingest_stream(
    spark: SparkSession, sf_dir: str, work_dir: str
) -> str:
    """Streaming near-dup ingest (18th §2.12 shape) — the crawl-ingest
    dedup service every corpus pipeline runs continuously, as a real
    micro-batch stream: the MinHash-LSH index (band buckets + shingle
    hash sets + set sizes) is SEEDED from the standing corpus
    (doc_id % INCR_MOD != 0 — the same split as the batch
    `near_dup_incremental_lsh`), then arrival documents stream in one
    micro-batch per batch_no through foreachBatch:

      - each batch's signatures/bands are computed ONCE (O(batch
        shingles)) and written to the standing index FIRST — O(batch)
        bytes per commit into a batch-keyed subdir with
        mode=overwrite, so replays rewrite rather than double-append
        (the standing corpus is never re-shingled);
      - the batch's bands then probe the (now self-inclusive) index;
        a candidate pair survives when the partner precedes the
        arrival in ingest order: partner.batch_no < arrival.batch_no
        (base rows carry batch_no -1), or same batch with a smaller
        doc_id — ONE rule covering base, earlier-batch, and
        intra-batch partners, which makes the ledger independent of
        trigger boundaries and therefore batch-oracle adjudicable;
      - candidates verify by exact Jaccard over the stored shingle
        hash sets (tau = plans/llm_text.JACCARD_TAU) and the
        surviving edges land in the dup ledger with their batch_no.

    ALL arrivals index — including flagged dups (keep-first-with-full-
    index: a later re-crawl of the dup still flags against it). Scale:
    per-batch cost is O(batch shingles) + band-bucket collisions;
    ledger and index writes are O(batch). Returns the ledger path."""
    from myserver_datawarehouse_spark.plans.llm_text import INCR_MOD
    from myserver_datawarehouse_spark.sources.tables import load_table

    input_dir = os.path.join(work_dir, "input")
    bands_dir = os.path.join(work_dir, "index_bands")
    hashes_dir = os.path.join(work_dir, "index_hashes")
    sizes_dir = os.path.join(work_dir, "index_sizes")
    ledger_dir = os.path.join(work_dir, "ledger")

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    is_arrival = F.pmod(F.col("doc_id"), F.lit(INCR_MOD)) == 0

    # Seed the standing index (batch_no -1, the pre-stream corpus).
    hs0, _, _ = _index_text(
        docs.filter(~is_arrival), -1, (bands_dir, hashes_dir, sizes_dir), "b_base"
    )
    hs0.unpersist()

    arrivals = docs.filter(is_arrival).select(
        "doc_id",
        "text",
        F.expr(
            f"CAST((doc_id DIV {INCR_MOD}) % {NEAR_DUP_INGEST_BATCHES}"
            " AS INT)"
        ).alias("batch_no"),
    )
    # batch k indexes before batch k+1 probes
    _stage_ordered_inputs(
        [
            arrivals.filter(F.col("batch_no") == k)
            for k in range(NEAR_DUP_INGEST_BATCHES)
        ],
        work_dir,
        input_dir,
    )

    # typed empty ledger leaf so a pair-free run still reads back cleanly
    spark.createDataFrame(
        [],
        "batch_no int, doc_new long, doc_partner long, jaccard double",
    ).write.mode("overwrite").parquet(os.path.join(ledger_dir, "b_init"))

    def _ingest(one: DataFrame, bno: int) -> None:
        _near_dup_ingest_one(
            one.sparkSession,
            bands_dir,
            hashes_dir,
            sizes_dir,
            ledger_dir,
            one.select("doc_id", "text"),
            bno,
        )

    _drain_files(arrivals, input_dir, 1, _per_batch_no(_ingest), work_dir)
    return ledger_dir


MIX_DRIFT_BATCHES = 3  # arrivals split by (doc_id div 5) % 3, as near-dup


def mix_drift_stream(
    spark: SparkSession, sf_dir: str, work_dir: str
) -> str:
    """Streaming language-mix drift monitor (19th §2.12 shape) — the
    ingest-health check every corpus pipeline charts: the SEED
    language token shares are computed once from the standing corpus
    (doc_id % INCR_MOD != 0), then each arrival micro-batch reports
    its own shares and the per-language PSI contribution
    (p_b - p_s) * ln(p_b / p_s) against the seed — the population-
    stability index, the standard drift alarm.

    Determinism contract: shares are Laplace-smoothed over the SEED
    language universe (p = (tokens + 1) / (total + |langs|)), so a
    language missing from a batch still has a defined, positive share
    and the ln never sees zero; each PSI term is rounded at 12 dp
    before the final 6-dp presentation (the source_mix_entropy float
    policy). Each batch's ledger rows land in a batch-keyed subdir
    with mode=overwrite (replay-idempotent, the near-dup-ingest
    pattern); batches are independent of each other — only of the
    seed — so trigger order cannot matter. Returns the ledger path."""
    from myserver_datawarehouse_spark.operators import text as TX
    from myserver_datawarehouse_spark.plans.llm_text import INCR_MOD
    from myserver_datawarehouse_spark.sources.tables import load_table

    input_dir = os.path.join(work_dir, "input")
    seed_dir = os.path.join(work_dir, "seed_shares")
    ledger_dir = os.path.join(work_dir, "ledger")

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    is_arrival = F.pmod(F.col("doc_id"), F.lit(INCR_MOD)) == 0

    per_doc = lambda fr: fr.select(  # noqa: E731
        "lang", F.size(TX.tokenize("text")).cast("long").alias("n_tok")
    )
    seed_counts = (
        per_doc(docs.filter(~is_arrival))
        .groupBy("lang")
        .agg(F.sum("n_tok").alias("seed_tokens"))
    )
    # the seed language UNIVERSE fixes |langs| for every smoothing
    seed = seed_counts.crossJoin(
        F.broadcast(
            seed_counts.agg(
                F.sum("seed_tokens").alias("seed_total"),
                F.count(F.lit(1)).alias("n_langs"),
            )
        )
    ).select(
        "lang",
        "seed_tokens",
        "n_langs",
        (
            (F.col("seed_tokens") + 1).cast("double")
            / (F.col("seed_total") + F.col("n_langs")).cast("double")
        ).alias("p_seed"),
    )
    seed.coalesce(1).write.mode("overwrite").parquet(seed_dir)

    arrivals = docs.filter(is_arrival).select(
        "doc_id",
        "lang",
        "text",
        F.expr(
            f"CAST((doc_id DIV {INCR_MOD}) % {MIX_DRIFT_BATCHES} AS INT)"
        ).alias("batch_no"),
    )
    _stage_files(arrivals, input_dir, MIX_DRIFT_BATCHES, "batch_no")
    spark.createDataFrame(
        [],
        "batch_no int, lang string, batch_tokens long,"
        " p_batch double, p_seed double, psi_term double",
    ).write.mode("overwrite").parquet(os.path.join(ledger_dir, "b_init"))

    def _monitor(rows: DataFrame, bno: int) -> None:
        # the seed's own schema: no schema read-back job per batch
        seed_t = rows.sparkSession.read.schema(seed.schema).parquet(seed_dir)
        counts = per_doc(rows).groupBy("lang").agg(
            F.sum("n_tok").alias("batch_tokens")
        )
        # seed universe LEFT side: absent languages report 0 tokens
        joined = (
            seed_t.join(counts, "lang", "left")
            .withColumn(
                "batch_tokens",
                F.coalesce(F.col("batch_tokens"), F.lit(0)),
            )
            .crossJoin(
                F.broadcast(
                    counts.agg(
                        F.coalesce(
                            F.sum("batch_tokens"), F.lit(0)
                        ).alias("batch_total")
                    )
                )
            )
        )
        p_b = (F.col("batch_tokens") + 1).cast("double") / (
            F.col("batch_total") + F.col("n_langs")
        ).cast("double")
        term = F.round(
            (p_b - F.col("p_seed")) * F.log(p_b / F.col("p_seed")), 12
        )
        (
            joined.select(
                F.lit(bno).cast("int").alias("batch_no"),
                "lang",
                "batch_tokens",
                F.round(p_b, 6).alias("p_batch"),
                F.round(F.col("p_seed"), 6).alias("p_seed"),
                F.round(term, 6).alias("psi_term"),
            )
            .write.mode("overwrite")
            .parquet(os.path.join(ledger_dir, f"b{bno}"))
        )

    _drain_files(arrivals, input_dir, 1, _per_batch_no(_monitor), work_dir)
    return ledger_dir


# ---------------------------------------------------------------------
# Streaming cross-modal curation ledger (20th §2.12 shape)

CURATION_BATCHES = NEAR_DUP_INGEST_BATCHES  # same arrival batching


def _media_rows_write(d: dict, one: DataFrame, bno: int, sub: str) -> None:
    """Write the media fingerprints of one (doc_id, text) frame as ONE
    (doc_id, modality, mhash, batch_no) store: image pHash (1 row/doc),
    audio hop windows and video frames, fingerprinted in one fused
    mapInPandas pass (operators/multimodal.media_fingerprints,
    hash-identical to plans/multimodal's per-modality kernels — pinned in
    tests/test_multimodal.py) instead of one corpus scan per modality.
    Each doc carries exactly one modality, so the per-modality probes
    filter the shared store by its modality column. Independent of the
    text-arm index writes, so callers pool it with them."""
    from myserver_datawarehouse_spark.operators import multimodal as MM

    media = MM.with_fake_payload(one)
    (
        MM.media_fingerprints(media)
        .select(
            "doc_id",
            "modality",
            "mhash",
            F.lit(bno).cast("int").alias("batch_no"),
        )
        .write.mode("overwrite")
        .parquet(os.path.join(d["media_rows"], sub))
    )


def _media_chunks_build(
    sp: SparkSession, d: dict, bno: int, sub: str
) -> tuple[DataFrame, DataFrame]:
    """Derive + write the chunk-band index from the just-written
    fingerprint store's read-back; returns the (rows, chunks)
    read-back frames the probes consume."""
    from myserver_datawarehouse_spark.operators import text as TX
    from myserver_datawarehouse_spark.plans.multimodal import PHASH_CHUNKS

    rows_rb = sp.read.parquet(os.path.join(d["media_rows"], sub))
    # distinct per (doc, chunk, value): candidate pairs are
    # de-duplicated after the bucket join anyway, so the index stores
    # each doc's bucket memberships once. doc_id determines modality,
    # so one per-(doc, c, cv) distinct equals per-modality distincts.
    (
        rows_rb.select(
            "doc_id",
            "modality",
            F.posexplode(
                TX.simhash_chunks("mhash", PHASH_CHUNKS)
            ).alias("c", "cv"),
        )
        .distinct()
        .select(
            "doc_id",
            "modality",
            "c",
            "cv",
            F.lit(bno).cast("int").alias("batch_no"),
        )
        .write.mode("overwrite")
        .parquet(os.path.join(d["media_chunks"], sub))
    )
    chunks_rb = sp.read.parquet(os.path.join(d["media_chunks"], sub))
    return rows_rb, chunks_rb


def _precedence_candidates(
    batch: DataFrame, idx: DataFrame, keys: list[str]
) -> DataFrame:
    """(doc_new, doc_partner) distinct candidates: the batch's
    (doc_id, *keys, batch_no) rows probing the (self-inclusive) index on
    equal `keys` under the shared partner-precedence rule — base (-1) <
    earlier batch < same batch with a smaller doc_id — which is what
    makes every near-dup ledger independent of trigger boundaries."""
    return (
        batch.select(
            F.col("doc_id").alias("doc_new"),
            *keys,
            F.col("batch_no").alias("bno_new"),
        )
        .join(idx.alias("ix"), keys)
        .filter(
            (F.col("ix.batch_no") < F.col("bno_new"))
            | (
                (F.col("ix.batch_no") == F.col("bno_new"))
                & (F.col("ix.doc_id") < F.col("doc_new"))
            )
        )
        .select("doc_new", F.col("ix.doc_id").alias("doc_partner"))
        .distinct()
    )


def _phash_verified_pairs(cand: DataFrame, idx_img: DataFrame) -> DataFrame:
    """Image verify: exact Hamming over the stored per-doc pHashes —
    the _image_phash_pairs rule (symmetric, so orientation-free)."""
    from myserver_datawarehouse_spark.operators import text as TX
    from myserver_datawarehouse_spark.plans.multimodal import (
        PHASH_HAMMING_MAX,
    )

    pa = idx_img.select(
        F.col("doc_id").alias("doc_new"), F.col("phash").alias("ph_new")
    )
    pb = idx_img.select(
        F.col("doc_id").alias("doc_partner"),
        F.col("phash").alias("ph_old"),
    )
    return (
        F.broadcast(cand)
        .join(pa, "doc_new")
        .join(pb, "doc_partner")
        .filter(
            TX.hamming60(F.col("ph_new"), F.col("ph_old"))
            <= F.lit(PHASH_HAMMING_MAX)
        )
        .select("doc_new", "doc_partner")
    )


def _set_coverage_pairs(
    cand: DataFrame, idx_rows: DataFrame, hcol: str, rule: str
) -> DataFrame:
    """Audio/video verify: exact set-coverage over the stored
    fingerprint rows, with the BATCH builders' doc_id orientation —
    `matched` counts the SMALLER doc_id side's hashes matched in the
    larger's, bounded by least (audio containment) or greatest (video
    coverage) of the two set sizes, exactly as
    _audio_fingerprint_pairs/_video_frame_pairs — so the streaming
    edge set equals the batch edge set re-oriented at the arrival.
    The per-doc set aggregate runs over candidate docs ONLY (semi-join
    before collect_list): O(batch + collisions), never O(corpus)."""
    from myserver_datawarehouse_spark.operators import text as TX
    from myserver_datawarehouse_spark.plans.multimodal import (
        PHASH_HAMMING_MAX,  # == AUDIO_HAMMING_MAX == VIDEO_HAMMING_MAX
    )

    oriented = cand.select(
        "doc_new",
        "doc_partner",
        F.least("doc_new", "doc_partner").alias("doc_lo"),
        F.greatest("doc_new", "doc_partner").alias("doc_hi"),
    )
    cd = (
        oriented.select(F.col("doc_lo").alias("doc_id"))
        .union(oriented.select(F.col("doc_hi").alias("doc_id")))
        .distinct()
    )
    sets = (
        idx_rows.join(F.broadcast(cd), "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list(hcol)).alias("hs"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    sa, sb = sets.alias("sa"), sets.alias("sb")
    matched = F.size(
        F.filter(
            F.col("sa.hs"),
            lambda x: F.exists(
                F.col("sb.hs"),
                lambda y: TX.hamming60(x, y)
                <= F.lit(PHASH_HAMMING_MAX),
            ),
        )
    )
    bound = (F.least if rule == "min" else F.greatest)(
        F.col("sa.n"), F.col("sb.n")
    )
    return (
        oriented.join(sa, F.col("doc_lo") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_hi") == F.col("sb.doc_id"))
        .filter(matched * 2 >= bound)
        .select("doc_new", "doc_partner")
    )


def _curation_one(sp: SparkSession, d: dict, one: DataFrame, bno: int) -> None:
    """Process ONE arrival batch of the curation stream: index every
    modality's signatures FIRST (batch-keyed overwrite subdirs — the
    replay-idempotency pattern), probe all four arms under the shared
    precedence rule, verify with each arm's exact batch rule, and
    ledger one keep/drop row per arrival with '+'-joined modality
    provenance."""
    sub = f"b{bno}"
    tdirs = (d["tbands"], d["thashes"], d["tsizes"])
    # Index writes first (self-inclusive probes), the fused media
    # fingerprint write pooled with the text-arm ones.
    hs, sz, bd = _index_text(
        one, bno, tdirs, sub, lambda: _media_rows_write(d, one, bno, sub)
    )
    tpairs = _near_dup_verified_pairs(sp, tdirs, hs, sz, bd, bno).select(
        "doc_new", "doc_partner"
    )
    # media arms: chunk index from the store's read-back, then probe
    # each arm over its modality slice of the shared store.
    bd_rows, bd_chunks = _media_chunks_build(sp, d, bno, sub)
    idx_rows_all = _read_tree(sp, d["media_rows"])
    idx_chunks_all = _read_tree(sp, d["media_chunks"])

    def arm(m: str, hcol: str, rule: str) -> DataFrame:
        cand = _precedence_candidates(
            bd_chunks.filter(F.col("modality") == m).drop("modality"),
            idx_chunks_all.filter(F.col("modality") == m).drop(
                "modality"
            ),
            ["c", "cv"],
        )
        idx_rows = idx_rows_all.filter(F.col("modality") == m).select(
            "doc_id", F.col("mhash").alias(hcol)
        )
        if m == "image":
            v = _phash_verified_pairs(cand, idx_rows)
        else:
            v = _set_coverage_pairs(cand, idx_rows, hcol, rule)
        return v.select(
            "doc_new", "doc_partner", F.lit(m).alias("modality")
        )

    evid = (
        tpairs.select(
            "doc_new", "doc_partner", F.lit("text").alias("modality")
        )
        .unionByName(arm("image", "phash", "sym"))
        .unionByName(arm("audio", "ahash", "min"))
        .unionByName(arm("video", "fhash", "max"))
    )
    agg = evid.groupBy("doc_new").agg(
        F.countDistinct("doc_partner").alias("n_partners"),
        F.max(F.when(F.col("modality") == "text", 1).otherwise(0)).alias(
            "ht"
        ),
        F.max(F.when(F.col("modality") == "image", 1).otherwise(0)).alias(
            "hi"
        ),
        F.max(F.when(F.col("modality") == "audio", 1).otherwise(0)).alias(
            "ha"
        ),
        F.max(F.when(F.col("modality") == "video", 1).otherwise(0)).alias(
            "hv"
        ),
    )
    (
        one.select("doc_id")
        .join(agg, F.col("doc_id") == F.col("doc_new"), "left")
        .select(
            F.lit(bno).cast("int").alias("batch_no"),
            "doc_id",
            F.when(F.col("n_partners").isNull(), "keep")
            .otherwise("drop")
            .alias("verdict"),
            F.when(F.col("n_partners").isNull(), "none")
            .otherwise(
                F.concat_ws(
                    "+",
                    F.when(F.col("ht") == 1, "text"),
                    F.when(F.col("hi") == 1, "image"),
                    F.when(F.col("ha") == 1, "audio"),
                    F.when(F.col("hv") == 1, "video"),
                )
            )
            .alias("retired_by"),
            F.coalesce(F.col("n_partners"), F.lit(0))
            .cast("long")
            .alias("n_partners"),
        )
        .write.mode("overwrite")
        .parquet(os.path.join(d["ledger"], sub))
    )
    hs.unpersist()


def curation_ledger_stream(
    spark: SparkSession, sf_dir: str, work_dir: str
) -> str:
    """Streaming cross-modal curation ledger (20th §2.12 shape) — the
    cross_modal_curation keep/drop contract run as a LIVE ingest
    service: all four modality indexes (text MinHash-LSH bands +
    shingle sets; image pHashes; audio window fingerprints; video
    frame fingerprints — each with its chunk-band index) SEED from the
    standing corpus (doc_id % INCR_MOD != 0), then arrival documents
    stream in one micro-batch per batch_no through foreachBatch:

      - each batch indexes its own signatures FIRST (batch-keyed
        overwrite subdirs — replays rewrite, never double-append);
      - each arm probes its chunk-band index under ONE shared
        precedence rule (base -1 < earlier batch < same batch with a
        smaller doc_id — the near-dup ingest rule generalized to
        modality edges), then verifies with its exact batch-rule:
        text exact-Jaccard >= tau, image Hamming <= 3, audio min-side
        window containment, video max-side frame coverage (set
        coverage computed at the batch builders' doc_id orientation,
        so the streaming edge set IS the batch edge set re-oriented);
      - the ledger gets one row per ARRIVAL: keep/drop verdict,
        '+'-joined modality provenance, distinct partner count —
        keep-first curation (a dup of ANY predecessor drops), which
        is a pure function of the data, not of trigger boundaries,
        hence batch-oracle adjudicable.

    Scale: per-trigger cost is O(batch signatures) + chunk-bucket
    collisions; payloads never shuffle (only ~16-byte fingerprint
    rows); the audio/video verify aggregates fingerprint sets for
    CANDIDATE docs only (semi-join before collect_list). Returns the
    ledger path."""
    from myserver_datawarehouse_spark.plans.llm_text import INCR_MOD
    from myserver_datawarehouse_spark.sources.tables import load_table

    d = {
        k: os.path.join(work_dir, k)
        for k in (
            "tbands",
            "thashes",
            "tsizes",
            "media_rows",
            "media_chunks",
            "ledger",
        )
    }
    input_dir = os.path.join(work_dir, "input")

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    is_arrival = F.pmod(F.col("doc_id"), F.lit(INCR_MOD)) == 0

    # Seed every index from the standing corpus (batch_no -1). All
    # three media modalities fingerprint in one fused pass, so the seed
    # scans the standing corpus twice (text shingles + media kernel).
    standing = docs.filter(~is_arrival)
    hs0, _, _ = _index_text(
        standing,
        -1,
        (d["tbands"], d["thashes"], d["tsizes"]),
        "b_base",
        lambda: _media_rows_write(d, standing, -1, "b_base"),
    )
    hs0.unpersist()
    _media_chunks_build(spark, d, -1, "b_base")

    arrivals = docs.filter(is_arrival).select(
        "doc_id",
        "text",
        F.expr(
            f"CAST((doc_id DIV {INCR_MOD}) % {CURATION_BATCHES} AS INT)"
        ).alias("batch_no"),
    )
    _stage_ordered_inputs(
        [arrivals.filter(F.col("batch_no") == k) for k in range(CURATION_BATCHES)],
        work_dir,
        input_dir,
    )

    # typed empty ledger leaf so an arrival-free run still reads back
    spark.createDataFrame(
        [],
        "batch_no int, doc_id long, verdict string, retired_by string, "
        "n_partners long",
    ).write.mode("overwrite").parquet(os.path.join(d["ledger"], "b_init"))

    def _ingest(one: DataFrame, bno: int) -> None:
        _curation_one(one.sparkSession, d, one.select("doc_id", "text"), bno)

    _drain_files(arrivals, input_dir, 1, _per_batch_no(_ingest), work_dir)
    return d["ledger"]
