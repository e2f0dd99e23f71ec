"""SparkSession factory.

Centralizes the configuration that the whole engine depends on:

- UTC session timezone: all timestamp <-> key derivations (date_id /
  time_id, reference fact_gold_price.py:61-62) are defined against a fixed
  zone; business-local time (Asia/Tehran in the reference) is an explicit
  ``from_utc_timestamp`` conversion, never an ambient setting.
- AQE on: runtime coalescing + skew-join handling are the 100 TB story for
  the shuffle-heavy operators (grouped interpolation, LSH bucket joins).
- shuffle.partitions sized for the local harness; on a real cluster this
  is overridden (or left to AQE's coalescing with a high initial value).
- Local ``file:`` I/O through Hadoop's raw local filesystem, and
  streaming checkpoints through the FileSystem-based checkpoint manager
  (local sessions only; see `LOCAL_IO_CONF`). Without libhadoop, the
  default checksummed local filesystem writes a ``.crc`` twin beside
  every file and forks a ``chmod`` for each twin too, and the default
  FileContext checkpoint manager forks a ``readlink`` for every rename
  of a metadata or state file and of its twin. Each fork blocks its
  thread for milliseconds, on the stream execution thread or inside
  state-store tasks. The raw filesystem writes no twins; the
  FileSystem-based manager commits with one atomic POSIX ``rename(2)``.
  Parquet footers and the writers' ``_read_back`` audit still check
  every commit. A cluster session (``SPARK_GRAFT_ON_CLUSTER``) keeps
  Spark's defaults for its own filesystems.
- DataFrame call-site capture off
  (``spark.python.sql.dataFrameDebugging.enabled=false``, local and
  cluster). With it on, PySpark wraps every Column and DataFrame call
  to send the Python call site to the JVM: a few py4j round trips per
  call, over half of a small query's driver chatter. PySpark provides
  the switch to "reduce performance slowdown". Errors keep their error
  class and SQL context; they lose only the Python call-site fragment
  (the file and line of the DataFrame call that failed).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"

# Business timezone of the reference deployment (fact_gold_price.py:61).
BUSINESS_TZ = "Asia/Tehran"


# Local-only I/O settings (see the module docstring): no `.crc` twins
# (nor their forked `chmod`s) and no forked `readlink` per checkpoint
# rename.
LOCAL_IO_CONF = {
    "spark.hadoop.fs.file.impl": "org.apache.hadoop.fs.RawLocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl":
        "org.apache.hadoop.fs.local.RawLocalFs",
    "spark.sql.streaming.checkpointFileManagerClass":
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager",
}


def _default_driver_memory() -> str:
    """The local driver heap cap: a quarter of the host's physical
    memory, at most 16g (16g where the host does not report it). A local
    driver's heap grows toward its cap, so a fixed 16g lets a few
    concurrent Spark processes exhaust a small host."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):
        return "16g"
    return f"{min(16 * 1024, phys // 4 // 2**20)}m"


def get_spark(
    app_name: str = "myserver-datawarehouse-spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for local parallelism and
    ``SPARK_GRAFT_DRIVER_MEM`` for the local driver heap (default: a
    quarter of physical memory, at most 16g). On a real cluster the
    master/memory settings come from spark-submit; everything set here is
    master-agnostic semantics (timezone, AQE, Arrow) plus local defaults
    (master, heap and `LOCAL_IO_CONF`).

    A session already active in this thread is returned as it is:
    ``getOrCreate`` would re-apply every option below to it, resetting
    the caller's runtime conf (e.g. a tuned ``spark.sql.shuffle.partitions``)
    when an entry point such as the CLI's ``main`` runs in-process.
    ``extra_conf`` therefore applies only when the session is created.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Parquet TIMESTAMP(NANOS) (e.g. events.ts) is unreadable natively;
        # read as long and convert in the source layer (sources/tables.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Cap in-memory partition bytes so a 100 TB scan splits sanely;
        # harmless locally.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # Reliable-checkpoint data (see `materialize`) is reclaimed when
        # its frame is garbage-collected instead of accumulating one
        # copy per materialized intermediate for the session's lifetime.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # No per-call Python call-site capture (see the module docstring).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        builder = builder.master(f"local[{cpus}]").config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
        for k, v in LOCAL_IO_CONF.items():
            builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


# Conf keys for the materialization profile (see `materialize`).
RELIABLE_CHECKPOINT_CONF = "spark.msdw.reliableCheckpoint"
CHECKPOINT_DIR_CONF = "spark.msdw.checkpointDir"


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly materialize an intermediate and truncate its lineage —
    the engine's one sanctioned lineage-cut, used by the iterative
    connected-components loops and shared candidate-pair frames.

    Two profiles, selected by session conf (default = local):

    - local (default): ``localCheckpoint(eager=True)`` — executor-local
      block storage, no filesystem round trip. Right for local[*] and
      for clusters where losing an executor may fail the job anyway.
    - reliable (``spark.msdw.reliableCheckpoint=true``): a real
      ``checkpoint(eager=True)`` into the checkpoint directory
      (``spark.msdw.checkpointDir``, default under the local tmp dir;
      point it at HDFS/object storage on a cluster). localCheckpoint
      state DIES WITH ITS EXECUTOR — on a 1000-executor run an
      iterative loop holding only local checkpoints is one preemption
      away from losing the whole job, which is exactly when the
      filesystem round trip is worth paying.

    Same logical result either way; tests assert profile equivalence.
    """
    spark = df.sparkSession
    reliable = (
        spark.conf.get(RELIABLE_CHECKPOINT_CONF, "false").lower() == "true"
    )
    if not reliable:
        return df.localCheckpoint(eager=True)
    sc = spark.sparkContext
    conf_dir = spark.conf.get(CHECKPOINT_DIR_CONF, None)
    if conf_dir:
        # Explicit conf always wins — setCheckpointDir is idempotent
        # and cheap, and silently preferring a previously-set dir would
        # make the documented conf a no-op in long sessions.
        if (sc.getCheckpointDir() or "").rstrip("/") != conf_dir.rstrip("/"):
            sc.setCheckpointDir(conf_dir)
    elif sc.getCheckpointDir() is None:
        import tempfile

        sc.setCheckpointDir(
            os.path.join(tempfile.gettempdir(), f"msdw_ckpt_{os.getpid()}")
        )
    # Checkpoint data is reclaimed when the frame is GC'd because
    # get_spark sets spark.cleaner.referenceTracking.cleanCheckpoints;
    # on an externally-built session without it, files persist until
    # the directory is cleaned — the standard Spark trade for state
    # that must survive executor loss.
    return df.checkpoint(eager=True)


def parallel_actions(*thunks: Callable[[], Any]) -> list[Any]:
    """Run independent driver-blocking Spark actions concurrently and
    return their results in argument order. Small actions cost mostly
    per-job fixed overhead (schedule, commit) and their task tails leave
    cores idle, so a small pool lets one action's tasks back-fill
    another's. Barrier: returns only once every thunk has finished, so
    callers can order a write before a probe, and the first exception
    (in argument order) propagates."""
    if len(thunks) <= 1:
        return [t() for t in thunks]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(4, len(thunks))) as pool:
        futures = [pool.submit(t) for t in thunks]
    return [f.result() for f in futures]
