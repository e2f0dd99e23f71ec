"""Bulk merge/upsert writer (reference S4-S7, SURVEY.md §2.1).

The reference loads facts with a row-at-a-time
``INSERT ... ON CONFLICT (id) DO UPDATE`` loop
(`fact_gold_price.py:169-196`) — idempotent, but N network round trips per
batch. The Spark-native equivalent is **bulk merge**: union the incoming
batch with the existing table, keep the winning row per natural key with
one window, and overwrite — no per-row DML anywhere.

Scale design:
- Partition the table by a pruning column (`date_id` in the reference — all
  its queries filter or join on it, SURVEY.md §1.3) and use **dynamic
  partition overwrite** so a merge only rewrites the partitions the batch
  touches: an hourly batch touching 1-2 dates rewrites 1-2 partitions of a
  100 TB table, not the table.
- The dedup window shuffles on the natural key — at 1000 executors that is
  one hash exchange of (existing ∩ touched partitions) + batch, the minimum
  any merge must move. Updates win over existing rows via an explicit
  precedence column, not wall-clock timestamps, so re-runs are exactly
  idempotent.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from myserver_datawarehouse_spark.sources import files as _FILES

_PRECEDENCE = "__precedence"
_RN = "__rn"


def dedup_latest(
    df: DataFrame, keys: Sequence[str], order_by: Sequence = ()
) -> DataFrame:
    """Keep one winning row per key: highest `order_by` (descending), the
    relational core of ON CONFLICT DO UPDATE (fact_gold_price.py:172-179).
    Deterministic: callers must pass a tiebreak-complete ordering."""
    w = Window.partitionBy(*keys).orderBy(
        *[F.col(c).desc() if isinstance(c, str) else c for c in order_by]
    )
    return (
        df.withColumn(_RN, F.row_number().over(w))
        .filter(F.col(_RN) == 1)
        .drop(_RN)
    )


# ------------------------------------------------------------------
# The merge core every upsert shares (merge_upsert,
# merge_upsert_published, evolution.evolved_merge): `_fold` owns the
# precedence rule, `_stage_touched` stages the batch once and prunes the
# existing side to the partitions it touches with a literal partition
# predicate, and `_null_safe_semi` is the broadcast null-safe key lookup
# of evolved_merge's legacy layouts.


def _fold(
    updates: DataFrame,
    existing: DataFrame | None,
    keys: Sequence[str],
    order_by: Sequence = (),
) -> DataFrame:
    """The upsert precedence rule every merge shares: one winning row per
    key over `updates` + `existing`. With `order_by` the highest value
    wins wherever the row came from; without it the update side wins
    through an explicit precedence column."""
    if order_by:
        both = updates if existing is None else updates.unionByName(existing)
        return dedup_latest(both, keys, order_by=order_by)
    both = updates.withColumn(_PRECEDENCE, F.lit(1))
    if existing is not None:
        both = both.unionByName(existing.withColumn(_PRECEDENCE, F.lit(0)))
    return dedup_latest(both, keys, order_by=[_PRECEDENCE]).drop(_PRECEDENCE)


def _stage_touched(
    updates: DataFrame,
    existing: DataFrame | None,
    partition_by: Sequence[str],
) -> tuple[DataFrame, DataFrame | None]:
    """Stage `updates` once (`session.materialize`) and prune `existing`
    to the partitions the batch touches. The distinct partition tuples
    are observed on the staging job itself, so no probe job re-reads
    the batch, and the prune is a literal predicate on the partition
    columns: the existing side's scan carries it as a static partition
    filter and lists and reads only the touched partitions. Returns the
    staged batch and the pruned existing side (None stays None)."""
    from pyspark.sql import Observation

    from myserver_datawarehouse_spark import session

    if not partition_by:
        return session.materialize(updates), existing
    obs = Observation()
    staged = session.materialize(updates.observe(
        obs, F.collect_set(F.struct(*partition_by)).alias("touched")
    ))
    if existing is None:
        return staged, None
    # Sorted: the predicate, and so the plan, must not depend on the
    # order in which the set was collected.
    touched = sorted(obs.get["touched"],
                     key=lambda t: [(v is None, v) for v in t])
    types = {f.name: f.dataType for f in existing.schema.fields}

    def lit(c, v):
        return F.lit(v).cast(types[c])

    if not touched:
        keep = F.lit(False)
    elif len(partition_by) == 1:
        # A null partition value (__HIVE_DEFAULT_PARTITION__) is a
        # touched partition too; `IN` never matches it.
        (c,) = partition_by
        values = [v for (v,) in touched]
        keep = F.col(c).isin([lit(c, v) for v in values if v is not None])
        if None in values:
            keep = keep | F.col(c).isNull()
    else:
        keep = functools.reduce(lambda a, b: a | b, [
            functools.reduce(lambda a, b: a & b, [
                F.col(c).eqNullSafe(lit(c, v)) for c, v in zip(partition_by, t)
            ])
            for t in touched
        ])
    return staged, existing.filter(keep)


def _null_safe_semi(
    df: DataFrame, probe: DataFrame, cols: Sequence[str]
) -> DataFrame:
    """Rows of `df` whose `cols` match some row of the small, broadcast
    `probe` under NULL-SAFE equality. A plain equi-join never matches
    null = null, so rows with a null key would be neither merged nor
    carried and would vanish from the snapshot."""
    return df.alias("__e").join(
        F.broadcast(probe).alias("__t"),
        functools.reduce(
            lambda a, b: a & b,
            [F.col(f"__e.{c}").eqNullSafe(F.col(f"__t.{c}")) for c in cols],
        ),
        "left_semi",
    )


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    keys: Sequence[str],
    partition_by: Sequence[str] = (),
    order_by: Sequence = (),
) -> None:
    """Upsert `updates` into the parquet table at `target_path` by natural
    key. New keys insert; existing keys take the update's row. Running the
    same batch twice yields a byte-identical table (idempotent by
    construction, the reference's re-run safety property).

    Precedence: by default the UPDATE side wins per key (arrival-order
    semantics, the reference's ON CONFLICT DO UPDATE). Pass `order_by`
    (columns ranked descending, must be tiebreak-complete) for
    VALUE-ORDER precedence instead — e.g. ["ts", "event_id"] makes the
    merge an associative latest-event-time fold, byte-identical no
    matter how a stream was split into batches or which batch a row
    arrived in (the streaming foreachBatch contract).

    Partition-scoped contract: with `partition_by`, a key's partition
    values must be STABLE (a function of the key, like date_id of an
    event's fixed timestamp). An update that moves a key to a new
    partition is outside the contract — the old partition is untouched
    by construction (that's what makes the merge's writes O(batch
    partitions)), so the stale row would survive beside the new one.
    Every partition-scoped merge engine shares this contract (dynamic
    partition overwrite, Hive exchange-partition pipelines); a
    key-mobile table must merge unpartitioned or delete-then-insert.

    Cost: O(touched partitions) read and written. A merge into an
    existing partitioned table stages the batch once
    (`session.materialize`), which also observes the partition tuples
    the batch touches; the existing side is then read with a literal
    predicate on those values (a static partition filter on its scan),
    so only the touched partitions are listed and read, and the batch
    lineage runs once. An unpartitioned merge reads and rewrites the
    whole table.

    Commit protocol: the merge is WRITE → AUDIT → PUBLISH, same as
    `publish_overwrite`, so there is no instant at which a reader (or a
    crash) can observe a half-written table — the old plain
    ``mode("overwrite")`` path deleted the live files before the new ones
    were durable.

    Concurrency contract: commits serialize under the table lock and a
    writer whose claimed version was overtaken raises (never a corrupt
    or mixed table), but two SIMULTANEOUS merges are snapshot-level
    last-committer-wins, not serializable transactions — each computed
    its merge against the snapshot it read. Run one merge writer per
    table (the reference's hourly cadence) or keep concurrent merges
    partition-disjoint; a real table format's MERGE has the same
    read-snapshot semantics unless it adds row-conflict detection.

    Locally the published snapshot is exposed to plain
    ``spark.read.parquet(target_path)`` readers through an atomically
    swapped symlink over copy-on-write version directories; untouched
    partitions are carried into the new snapshot as hardlinks (an O(files)
    metadata operation, no data copy — the same file-reuse a table
    format's manifest records logically). At 100 TB on an object store the
    identical protocol is the manifest commit of `publish_overwrite` with
    readers going through `read_published`; the symlink is just POSIX's
    native root pointer."""
    _repair_symlink(target_path)
    link_untouched = bool(partition_by)
    existing = None
    if _table_exists(target_path):
        # The committed schema sidecar spares a schema-inference job per
        # merge; a legacy plain directory (no sidecar) is inferred.
        schema = _sidecar_schema(target_path)
        existing = (spark.read.parquet(target_path) if schema is None
                    else spark.read.schema(schema).parquet(target_path))
        existing_spec = _partition_spec(target_path)
        if existing_spec and partition_by and list(partition_by) != existing_spec:
            # Committing a snapshot whose partition dirs disagree with
            # the hardlink-carried ones would publish a MIXED layout
            # Spark cannot read back (conflicting partition columns) —
            # the same loud-failure rule as append's layout guard.
            raise ValueError(
                f"merge layout mismatch: table {target_path} is "
                f"partitioned by {existing_spec}, merge specifies "
                f"{list(partition_by)}"
            )
        if existing_spec and not partition_by:
            # Unpartitioned merge of a partitioned table: the merge is
            # full-table (no pruning possible without the partition
            # key), but the published snapshot keeps the hive layout so
            # later partitioned merges' carry still works.
            partition_by = existing_spec
        if link_untouched and _has_flat_data_files(
            os.path.realpath(target_path.rstrip("/"))
        ):
            # Layout mismatch: the current snapshot keeps (some) rows in
            # top-level flat files — e.g. a table first created by a
            # plain unpartitioned append. Those rows live outside any
            # partition directory, so the touched-partition semi-join +
            # hardlink carry would silently DROP them. Fall back to a
            # full merge-and-rewrite, which also heals the table into
            # the partitioned layout for every later merge.
            link_untouched = False
        elif link_untouched:
            # Only the partitions the batch touches participate: the
            # partition filter drops the rest from the existing side and
            # copy-on-write hardlinks carry them. An hourly batch reads
            # and rewrites O(batch dates), not O(table).
            updates, existing = _stage_touched(updates, existing, partition_by)
    # The merged lineage reads target_path (the OLD snapshot) while the
    # write lands in a fresh version directory — disjoint paths, so no
    # materialization is needed.
    _publish_path_snapshot(spark, target_path,
                           _fold(updates, existing, keys, order_by),
                           partition_by, link_untouched=link_untouched)


def merge_upsert_coalesce(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    keys: Sequence[str],
    keep_cols: Sequence[str] = (),
) -> None:
    """P13 COALESCE-on-merge (populate_sources_dag.py:142-148): updates
    win per key, but for `keep_cols` a NULL update value keeps the
    existing value (e.g. created_at / manually-set color survive
    refreshes). Implemented as one full-outer join on the key — the same
    single shuffle as the window merge, no per-row DML."""
    _repair_symlink(target_path)
    if not _table_exists(target_path):
        merge_upsert(spark, target_path, updates, keys)
        return
    existing = spark.read.parquet(target_path)
    u, e = updates.alias("u"), existing.alias("e")
    cond = None
    for k in keys:
        c = F.col(f"u.{k}").eqNullSafe(F.col(f"e.{k}"))
        cond = c if cond is None else cond & c
    cols = []
    for name in updates.columns:
        if name in keys:
            cols.append(F.coalesce(F.col(f"u.{name}"), F.col(f"e.{name}")).alias(name))
        elif name in keep_cols:
            cols.append(F.coalesce(F.col(f"u.{name}"), F.col(f"e.{name}")).alias(name))
        else:
            # update wins outright — but rows only in `existing` keep theirs
            cols.append(
                F.when(F.col(f"u.{keys[0]}").isNotNull(), F.col(f"u.{name}"))
                .otherwise(F.col(f"e.{name}"))
                .alias(name)
            )
    merged = u.join(e, cond, "full_outer").select(*cols)
    # Keep the table's existing hive layout (same reasoning as
    # ensure_columns: flattening a partitioned table strands its
    # history outside the layout later partitioned merges carry).
    _publish_path_snapshot(
        spark, target_path, merged, _partition_spec(target_path)
    )


def ensure_columns(
    spark: SparkSession, target_path: str, columns: dict[str, str]
) -> list[str]:
    """S8 guarded schema evolution (populate_sources_dag.py:91-104's
    information_schema probe + ALTER TABLE ADD COLUMN): add each missing
    column as typed NULLs. Returns the columns actually added. No-op when
    everything already exists — idempotent like the reference's guard.

    The rewritten snapshot keeps the table's hive partition layout
    (sniffed from the current snapshot's key=value directories):
    flattening it here would strand the table's history outside the
    layout a later partitioned merge carries forward."""
    if not _table_exists(target_path):
        raise FileNotFoundError(target_path)
    df = spark.read.parquet(target_path)
    missing = [c for c in columns if c not in df.columns]
    if not missing:
        return []
    for c in missing:
        df = df.withColumn(c, F.lit(None).cast(columns[c]))
    _publish_path_snapshot(
        spark, target_path, df, _partition_spec(target_path)
    )
    return missing


def append(df: DataFrame, target_path: str, partition_by: Sequence[str] = ()) -> None:
    """S5 append sink (fact_gold_price.py:357-364), bulk.

    Layout guard: appending with a partitioning that disagrees with the
    table's existing layout produces a MIXED directory Spark reads
    incompletely — flat part files inside a hive-partitioned table are
    silently ignored by partition discovery, i.e. the appended rows
    vanish from every subsequent read. That failure is loud here
    instead (raise), matching the table-format behavior this writer
    re-expresses. An empty table (no data files yet) accepts any
    layout."""
    _repair_symlink(target_path)
    t = target_path.rstrip("/")
    if _table_exists(t):
        snap = os.path.realpath(t)
        existing_spec = _partition_spec(t)
        if existing_spec and list(partition_by) != existing_spec:
            raise ValueError(
                f"append layout mismatch: table {t} is partitioned by "
                f"{existing_spec}, append specifies {list(partition_by)}"
            )
        if not existing_spec and partition_by and _has_flat_data_files(snap):
            raise ValueError(
                f"append layout mismatch: table {t} is unpartitioned, "
                f"append specifies {list(partition_by)}"
            )
    _write(df, target_path, partition_by, mode="append")


def overwrite(df: DataFrame, target_path: str, partition_by: Sequence[str] = ()) -> None:
    """S7 truncate-and-reload (rebuild_all_time_interpolation.py:16-17).

    On a WAP-committed table (the path is a snapshot symlink), a plain
    mode=overwrite would delete THROUGH the link — emptying the
    published version directory out from under the manifest and
    breaking time travel to it. Truncate-and-reload on such a table is
    therefore routed through the snapshot committer: a full new
    version, atomically swapped in, old snapshots retained until
    vacuum. Plain directories keep the direct write (their callers own
    the layout). `append` intentionally stays in-place either way —
    it mutates the current snapshot rather than committing a version."""
    _repair_symlink(target_path)
    if os.path.islink(target_path.rstrip("/")):
        _publish_path_snapshot(
            df.sparkSession, target_path, df, partition_by
        )
        return
    _write(df, target_path, partition_by, mode="overwrite")


def create_if_not_exists(
    spark: SparkSession, target_path: str, template: DataFrame,
    partition_by: Sequence[str] = (),
) -> None:
    """S6 idempotent DDL (fact_gold_price.py:125-138): materialize an empty
    table with the template's schema unless one already exists."""
    _repair_symlink(target_path)
    if not _table_exists(target_path):
        _write(template.limit(0), target_path, partition_by, mode="overwrite")


def _partition_spec(target_path: str) -> list[str]:
    """Sniff the hive partition column chain from the current snapshot's
    directory layout (key=value dirs, walked down one branch — Spark
    layouts are uniform). Empty for flat tables."""
    spec: list[str] = []
    cur = os.path.realpath(target_path.rstrip("/"))
    while os.path.isdir(cur):
        subdirs = [
            d for d in os.listdir(cur)
            if "=" in d and _FILES._is_data_entry(d)
            and os.path.isdir(os.path.join(cur, d))
        ]
        if not subdirs:
            break
        spec.append(subdirs[0].split("=", 1)[0])
        cur = os.path.join(cur, subdirs[0])
    return spec


def _has_flat_data_files(snapshot_dir: str) -> bool:
    """True when the snapshot keeps data files at its top level (an
    unpartitioned layout)."""
    return any(
        not f.startswith((".", "_"))
        and os.path.isfile(os.path.join(snapshot_dir, f))
        for f in os.listdir(snapshot_dir)
    )


def drop_table(target_path: str) -> None:
    """Remove a path table entirely: the reader path (snapshot symlink
    or plain directory) AND its hidden versions root. Callers that
    `shutil.rmtree` a WAP-committed table path directly would only hit
    the symlink (rmtree refuses links) and leave every snapshot behind
    — a rerun would then see the old table through the surviving link."""
    import shutil

    t = target_path.rstrip("/")
    if os.path.islink(t):
        os.unlink(t)
    elif os.path.isdir(t):
        shutil.rmtree(t, ignore_errors=True)
    shutil.rmtree(_versions_root(t), ignore_errors=True)


def compact_table(
    spark: SparkSession, target_path: str, target_files: int = 1
) -> None:
    """Small-file compaction: rewrite the current snapshot bin-packed
    and commit it as a new version through the WAP protocol (readers
    never see a mix; the fragmented snapshot stays time-travelable
    until vacuum). For a hive-partitioned table the rows are
    repartitioned on the partition columns so each partition compacts
    to one file; an unpartitioned table coalesces to `target_files`.

    This is the maintenance op a streaming ingest needs at scale: a
    file per micro-batch per partition accumulates into listing- and
    task-scheduling overhead (100k tiny files is a planner problem
    long before it is an IO problem); periodic compaction restores
    scan-sized files without blocking readers — exactly the
    rewrite-and-swap a table format's OPTIMIZE performs.

    Works on both table kinds: a path table (snapshot symlink) compacts
    through the symlink commit; a `publish_overwrite` manifest root
    compacts through the manifest commit."""
    cur = _published_version(target_path)
    if cur is not None:  # manifest-root table
        snap = os.path.join(target_path, cur)
        if os.path.isfile(os.path.join(snap, "_SPECS.json")):
            # Evolved table: compaction IS the layout-debt paydown —
            # rewrite everything into the ACTIVE spec and collapse the
            # per-spec subtrees (evolution.compact_evolved), never an
            # accidental unpartitioned rewrite.
            from myserver_datawarehouse_spark.operators import (
                evolution as _EV,
            )

            _EV.compact_evolved(spark, target_path)
            return
        df = _read_snapshot(spark, snap)
        spec = _partition_spec(snap)
        df = df.repartition(*spec) if spec else df.coalesce(
            max(1, target_files)
        )
        # A standing manifest stat survives maintenance: columns with a
        # committed bloom sidecar keep one across the compaction (every
        # file is rewritten, so this is a full rebuild — amortized into
        # the full rewrite compaction already is).
        publish_overwrite(
            spark,
            target_path,
            df,
            partition_by=spec,
            bloom_columns=_FILES.bloom_sidecar_columns(snap),
        )
        return
    _repair_symlink(target_path)
    if not _table_exists(target_path):
        raise FileNotFoundError(target_path)
    df = spark.read.parquet(target_path)
    spec = _partition_spec(target_path)
    if spec:
        df = df.repartition(*spec)
    else:
        df = df.coalesce(max(1, target_files))
    _publish_path_snapshot(
        spark,
        target_path,
        df,
        spec,
        bloom_columns=_FILES.bloom_sidecar_columns(
            os.path.realpath(target_path)
        ),
    )


def data_file_count(target_path: str) -> int:
    """Number of data files in the CURRENT snapshot (markers/sidecars
    excluded; a manifest root counts only its published version, not
    every retained one) — the quantity compaction exists to bound."""
    cur = _published_version(target_path)
    base = (
        os.path.join(target_path, cur)
        if cur is not None
        else os.path.realpath(target_path)
    )
    return len(_FILES._data_files_relative(base))


def _data_file_inodes(base: str) -> dict[str, int]:
    """relative-path -> inode for every data file under a snapshot
    (sidecar trees excluded) — the delete_where audit's evidence that
    a merge-on-read commit carried EXACTLY the current data file set
    and copied zero bytes (hardlinks share inodes)."""
    return {
        rel: os.stat(os.path.join(base, rel)).st_ino
        for rel in _FILES._data_files_relative(base)
    }


def _table_exists(target_path: str) -> bool:
    return os.path.isdir(target_path) and any(
        _FILES._is_data_entry(f) for f in os.listdir(target_path)
    )


def _write(
    df: DataFrame, target_path: str, partition_by: Sequence[str], mode: str
) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(target_path)


# ------------------------------------------------------------------
# Commit machinery shared by both table kinds. A writer stages through
# `_stage_snapshot` (write + `_read_back` audit), or writes its own
# files and audits them with `_read_back`; only `_write_current` ever
# writes a `_CURRENT` pointer. Path tables keep `target_path` a plain
# `spark.read.parquet`-able path: underneath it is a symlink into a
# sibling hidden versions root, swapped atomically at commit by
# `_publish_path_snapshot` (with its own symlink-aware conflict check),
# which lets merge_upsert / merge_upsert_coalesce / ensure_columns
# share publish_overwrite's crash-atomicity without changing a call
# site.


def _versions_root(target_path: str) -> str:
    p = target_path.rstrip("/")
    return os.path.join(os.path.dirname(p), f".{os.path.basename(p)}.versions")


@contextlib.contextmanager
def _commit_lock(root: str):
    """Exclusive advisory lock scoped to one table root, held across the
    conflict-check + manifest/symlink swap (and across vacuum's
    read-current + delete). flock releases on process death, so a
    crashed writer can never wedge the table. On an object store the
    equivalent is the conditional-put the manifest swap compiles to."""
    import fcntl

    os.makedirs(root, exist_ok=True)
    fd = os.open(os.path.join(root, "_LOCK"), os.O_CREAT | os.O_RDWR)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


# Above this many staged data files the read-back audit runs as a
# distributed Spark count instead of driver-side footer reads: footer
# metadata is O(files) sequential round trips from the driver (fine for
# the commit sizes a single writer produces; slow against an object
# store at 1e5+ files), while the Spark count amortizes the same footer
# reads across the cluster. The audit's guarantee is identical on both
# paths.
_FOOTER_AUDIT_FILE_LIMIT = 4096


def _read_back(
    spark: SparkSession, base: str, files: Sequence[str] | None = None
) -> tuple[int, set]:
    """READ-BACK audit shared by every writer: (rows, column names) of
    the data files under `base` — or of just `files`, given relative to
    `base`. Up to `_FOOTER_AUDIT_FILE_LIMIT` files it sums parquet footer row
    counts and unions footer schema names (plus hive partition-dir
    column names) on the driver. The footer is the writer's own durable
    record of each file, so this is the same physical-completeness
    check as re-reading through Spark — a missing, truncated or corrupt
    file fails the footer parse; a lost row flips the sum — without a
    driver-blocking distributed count per commit (table formats audit
    the same way: manifest stats, not re-scans). Past the limit the
    same read-back runs as one distributed count."""
    import pyarrow.parquet as pq

    rels = _FILES._data_files_relative(base) if files is None else files
    if len(rels) > _FOOTER_AUDIT_FILE_LIMIT:
        back = spark.read.parquet(
            *([base] if files is None else
              [os.path.join(base, f) for f in files])
        )
        return back.count(), set(back.columns)
    total = 0
    cols: set = set()
    for rel in rels:
        pf = pq.ParquetFile(os.path.join(base, rel))
        total += pf.metadata.num_rows
        cols.update(pf.schema_arrow.names)
        for seg in rel.split(os.sep)[:-1]:
            if "=" in seg:
                cols.add(seg.split("=", 1)[0])
    return total, cols


def _stage_snapshot(
    spark: SparkSession,
    table_root: str,
    df: DataFrame,
    partition_by: Sequence[str],
    audit: bool = True,
) -> str:
    """WRITE + AUDIT steps shared by publish_overwrite and the path-table
    committer: claim a fresh version dir, append the snapshot into it
    with an Observation row count, persist the schema sidecar, and
    verify the staged directory reads back complete. Returns the claimed
    version name; never touches the live table or the manifest."""
    from pyspark.sql import Observation

    os.makedirs(table_root, exist_ok=True)
    version = _claim_next_version(table_root)
    staged = os.path.join(table_root, version)
    obs = Observation()
    df_obs = df.observe(obs, F.count(F.lit(1)).alias("rows_written"))
    # APPEND into the freshly-claimed EMPTY directory: mode=overwrite
    # would fs.delete the dir first, momentarily releasing the
    # atomic-mkdir claim — a second publisher could re-claim the same
    # version name in that window and interleave files. Append never
    # deletes, so the claim is held for the write's whole lifetime.
    _write(df_obs, staged, partition_by, mode="append")
    # Schema sidecar (underscore-prefixed → invisible to Spark's file
    # listing): lets a 0-row snapshot — a legitimate state, e.g. an
    # erasure that removes every row — read back without parquet schema
    # inference, which fails when no part files exist.
    _write_schema_sidecar(staged, df.schema)
    if audit:
        expected = obs.get["rows_written"]
        if expected == 0:
            # No part files to infer from; the write committed (the
            # append returned) and the sidecar records the schema —
            # verify the staged dir is present and empty-readable.
            n = _read_snapshot(spark, staged).count()
        else:
            n, back_cols = _read_back(spark, staged)
            if back_cols != set(df.columns):
                raise RuntimeError(
                    f"audit failed for {staged}: cols {sorted(back_cols)} "
                    f"!= {df.columns}"
                )
        if n != expected:
            raise RuntimeError(
                f"audit failed for {staged}: read back {n} rows "
                f"(wrote {expected})"
            )
    return version


def _read_snapshot(spark: SparkSession, snapshot_dir: str) -> DataFrame:
    """Read one version directory, falling back to the `_SCHEMA.json`
    sidecar when inference has nothing to work with (0-row snapshot).
    Equality-delete sidecars (`_deletes/`, written by `delete_where`)
    are applied on read — merge-on-read semantics. Evolved snapshots
    (a `_SPECS.json` partition-spec manifest with per-spec `_layout-*`
    subtrees, written by operators/evolution.py) route through the
    spec-union reader, so read_published / read_version (time travel) /
    table_changes are evolution-aware for free."""
    if os.path.isfile(os.path.join(snapshot_dir, "_SPECS.json")):
        from myserver_datawarehouse_spark.operators import evolution as _EV

        return _EV.read_snapshot_dir(spark, snapshot_dir)
    try:
        df = spark.read.parquet(snapshot_dir)
    except Exception:
        schema = _sidecar_schema(snapshot_dir)
        if schema is None:
            raise
        df = spark.read.schema(schema).parquet(snapshot_dir)
    return _apply_deletes(spark, snapshot_dir, df)


def _write_schema_sidecar(snapshot_dir: str, schema: StructType) -> None:
    """Commit `schema` beside a snapshot's data (`_SCHEMA.json`): the
    one writer of the sidecar, for plain and evolved snapshots."""
    with open(os.path.join(snapshot_dir, _SCHEMA_SIDECAR), "w") as fh:
        fh.write(schema.json())


def _sidecar_schema(
    snapshot_dir: str, required: bool = False
) -> StructType | None:
    """The schema committed beside a snapshot's data (`_SCHEMA.json`).
    A directory written without one gives None, or raises
    FileNotFoundError when `required` (every evolved snapshot has
    one)."""
    sidecar = os.path.join(snapshot_dir, _SCHEMA_SIDECAR)
    if not required and not os.path.isfile(sidecar):
        return None
    with open(sidecar) as fh:
        return StructType.fromJson(json.load(fh))


def _delete_meta(snapshot_dir: str) -> dict | None:
    meta = os.path.join(snapshot_dir, _DELETES, "_META.json")
    if not os.path.isfile(meta):
        return None
    with open(meta) as fh:
        return json.load(fh)


def _apply_deletes(
    spark: SparkSession, snapshot_dir: str, df: DataFrame
) -> DataFrame:
    """Subtract the snapshot's equality-delete sidecar: a NULL-SAFE
    anti-join of the data against the deleted-key set. The delete set
    is typically tiny relative to the table (a GDPR user list against
    100 TB of facts), so AQE plans this as a broadcast anti-join —
    O(data scan) with no shuffle of the big side."""
    meta = _delete_meta(snapshot_dir)
    if meta is None:
        return df
    ddir = os.path.join(snapshot_dir, _DELETES)
    if not _FILES._data_files_relative(ddir):
        return df
    keys = meta["keys"]
    dels = spark.read.parquet(ddir).select(*keys).dropDuplicates(keys)
    cond = functools.reduce(
        lambda x, y: x & y,
        [df[k].eqNullSafe(dels[k]) for k in keys],
    )
    return df.join(dels, cond, "left_anti")


def _link_untouched(current_dir: str, staged_dir: str) -> list[str]:
    """Carry every partition directory the merge did NOT rewrite from the
    current snapshot into the staged one as hardlinks — copy-on-write at
    partition granularity. A subtree is 'touched' exactly when the
    staged snapshot already contains its relative path (the merged
    output writes a dir for every partition it rewrote), recursively, so
    multi-level partitioning carries untouched leaves under a touched
    prefix. Hardlinks survive vacuuming of the source version (inode
    refcount), so old-version cleanup never breaks a live snapshot.
    Returns the absolute paths of the data files linked (the carried
    set — what the caller's read-back audit must add to the rows it
    wrote itself)."""
    linked: list[str] = []
    for entry in os.listdir(current_dir):
        if not _FILES._is_data_entry(entry):
            continue  # markers/sidecars belong to their own version
        src = os.path.join(current_dir, entry)
        dst = os.path.join(staged_dir, entry)
        if os.path.isdir(src):
            if os.path.isdir(dst):
                linked += _link_untouched(src, dst)  # touched prefix
            else:
                os.makedirs(dst)
                linked += _link_all_files(src, dst)
        # top-level data files of an unpartitioned table are never
        # carried: an unpartitioned merge always rewrites the full set
    return linked


def _link_all_files(src: str, dst: str) -> list[str]:
    linked: list[str] = []
    for root, dirs, files in os.walk(src):
        rel = os.path.relpath(root, src)
        out = os.path.join(dst, rel) if rel != "." else dst
        os.makedirs(out, exist_ok=True)
        for f in files:
            if not f.startswith((".", "_")):
                target = os.path.join(out, f)
                os.link(os.path.join(root, f), target)
                linked.append(target)
    return linked


def _current_path_version(target_path: str, vroot: str) -> str | None:
    """Highest version the path table currently exposes: the symlink's
    target wins (it is the reader-visible commit point); the manifest
    covers the crash window where the symlink swap landed but the
    manifest write did not."""
    candidates = []
    if os.path.islink(target_path):
        base = os.path.basename(os.readlink(target_path).rstrip("/"))
        if base.startswith("v") and base[1:].isdigit():
            candidates.append(int(base[1:]))
    cur = _published_version(vroot)
    if cur is not None:
        candidates.append(int(cur[1:]))
    return f"v{max(candidates)}" if candidates else None


def _repair_symlink(target_path: str) -> None:
    """Recover from a crash inside the one-time legacy migration window
    (legacy dir renamed into the versions root, symlink not yet
    created): if the path is missing but the versions root has a
    published manifest, re-point the symlink at it."""
    if os.path.exists(target_path):
        return
    if os.path.islink(target_path):  # dangling link
        os.unlink(target_path)
    vroot = _versions_root(target_path)
    cur = _published_version(vroot)
    if cur is not None and os.path.isdir(os.path.join(vroot, cur)):
        _swap_symlink(target_path, vroot, cur)


def _swap_symlink(target_path: str, vroot: str, version: str) -> None:
    rel = os.path.relpath(os.path.join(vroot, version),
                          os.path.dirname(target_path.rstrip("/")))
    tmp = f"{target_path.rstrip('/')}.__swap{os.getpid()}"
    if os.path.lexists(tmp):  # leftover from a crashed earlier swap
        os.unlink(tmp)
    os.symlink(rel, tmp)
    os.replace(tmp, target_path.rstrip("/"))  # the commit point


def _publish_path_snapshot(
    spark: SparkSession,
    target_path: str,
    df: DataFrame,
    partition_by: Sequence[str],
    link_untouched: bool = False,
    bloom_columns: Sequence[str] = (),
) -> str:
    """Commit `df` as the new snapshot behind `target_path`:

    1. WRITE+AUDIT into a fresh version dir (shared `_stage_snapshot`).
    2. Optionally hardlink the untouched partitions of the current
       snapshot into it (copy-on-write carry-forward).
    3. Under the table lock: conflict-check against the newest committed
       version, swap the symlink (atomic `os.replace` — the reader-
       visible commit), then advance the `_CURRENT` manifest. The
       symlink swaps FIRST so a crash between the two leaves readers on
       the NEW complete snapshot and the manifest merely conservative
       (vacuum keeps one extra version; the next commit heals it).

    A pre-existing plain directory (a table created by `append`/
    `create_if_not_exists` before its first merge) is migrated once:
    renamed to `v0` inside the versions root, then the symlink takes its
    place. The migration window is two metadata syscalls; a crash inside
    it is healed by `_repair_symlink` at the next writer entry."""
    target = target_path.rstrip("/")
    vroot = _versions_root(target)
    version = _stage_snapshot(spark, vroot, df, partition_by)
    staged = os.path.join(vroot, version)
    if link_untouched and _table_exists(target):
        _link_untouched(os.path.realpath(target), staged)
    for col in bloom_columns:
        # Staged before the symlink swap: a published snapshot's blooms
        # are never observable half-built (same rule as the manifest-
        # root committer).
        _FILES.write_bloom_sidecar(spark, staged, col)
    with _commit_lock(vroot):
        cur = _current_path_version(target, vroot)
        if cur is not None and int(version[1:]) <= int(cur[1:]):
            raise RuntimeError(
                f"publish conflict: {cur} was committed after this writer "
                f"claimed {version}; retry the merge"
            )
        if os.path.isdir(target) and not os.path.islink(target):
            # Legacy migration: the pre-WAP plain directory becomes v0.
            # The manifest is pointed at v0 BEFORE the rename — a crash
            # between the rename and the symlink swap then leaves a
            # healable state (_repair_symlink finds _CURRENT=v0 and
            # re-points the path at the preserved legacy snapshot);
            # without the manifest-first write, that crash would make
            # the table look empty to the next writer and its rows
            # would silently vanish from the next merge.
            v0 = os.path.join(vroot, "v0")
            if os.path.exists(v0):
                raise RuntimeError(
                    f"cannot migrate {target}: {v0} already exists "
                    "(aborted earlier migration?) — repair the table "
                    "manually before writing"
                )
            _write_current(vroot, "v0")
            os.rename(target, v0)
        _swap_symlink(target, vroot, version)
        _write_current(vroot, version)
    return version


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_keys: Sequence[str],
    n_buckets: int,
    sort_keys: Sequence[str] = (),
) -> None:
    """Bucketed catalog table: hash-partition rows into `n_buckets` files
    per partition by `bucket_keys` at WRITE time.

    This is the co-located-join primitive the path writers can't express:
    two tables bucketed the same way (same keys, same count) join and
    aggregate WITHOUT a shuffle — the exchange happens once at write and
    every subsequent read reuses it (verified by the no-Exchange plan
    assertion in tests/test_bucketing.py). At 100 TB this converts the
    fact-to-fact joins (e.g. observed minutes vs interpolated minutes,
    doc shingles vs doc signatures) from a per-query shuffle of the big
    side into a write-once layout decision; `sort_keys` additionally
    pre-sorts within buckets so sort-merge joins skip their sort.

    Bucketing requires the session catalog (saveAsTable) — plain
    `.parquet(path)` writes can't record bucket metadata."""
    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, *bucket_keys)
    )
    if sort_keys:
        writer = writer.sortBy(*sort_keys)
    writer.saveAsTable(table_name)


# ------------------------------------------------------------------
# Write-audit-publish: the manifest-commit tier of the writer (S4's
# remaining ACID gap vs a table format's MERGE — crash atomicity).
# Every manifest-root commit — publish_overwrite, merge_upsert_published,
# delete_where and the evolution writers — publishes through
# `_commit_manifest`.

_CURRENT = "_CURRENT"
_DELETES = "_deletes"
_SCHEMA_SIDECAR = "_SCHEMA.json"


def _published_version(table_root: str) -> str | None:
    """The version directory the manifest currently points at, or None
    for a never-published table."""
    manifest = os.path.join(table_root, _CURRENT)
    if not os.path.isfile(manifest):
        return None
    with open(manifest) as fh:
        return fh.read().strip() or None


def _claim_next_version(table_root: str) -> str:
    """Claim a fresh monotone version name ATOMICALLY: compute
    v{max+1} over the existing v* directories, then take it with an
    exclusive mkdir — the filesystem's atomic create arbitrates
    concurrent publishers, so two writers can never interleave into
    one staged directory (never wall-clock — re-runs stay
    reproducible)."""
    while True:
        seqs = [
            int(d[1:])
            for d in os.listdir(table_root)
            if d.startswith("v") and d[1:].isdigit()
        ]
        candidate = f"v{max(seqs) + 1}" if seqs else "v1"
        try:
            os.makedirs(os.path.join(table_root, candidate))
            return candidate
        except FileExistsError:
            continue  # lost the race; re-list and take the next slot


def publish_overwrite(
    spark: SparkSession,
    table_root: str,
    df: DataFrame,
    partition_by: Sequence[str] = (),
    audit: bool = True,
    bloom_columns: Sequence[str] = (),
) -> str:
    """Atomically replace the published table under `table_root` with
    `df` via WRITE → AUDIT → PUBLISH (the minimal root-pointer commit
    protocol of Iceberg/Delta, re-expressed on plain parquet +
    filesystem rename):

    1. WRITE the new snapshot into a fresh version directory
       `table_root/v{N}/` (claimed by atomic mkdir, so concurrent
       publishers get disjoint directories) — the live table is never
       touched.
    2. AUDIT: re-read the staged directory and verify it is a
       complete, readable parquet table: the read-back row count must
       equal the row count OBSERVED during the write (Observation
       metric — no second pass over the input), and the column set
       must match. A failed audit raises and leaves the manifest
       alone.
    3. PUBLISH: re-check that no concurrent publisher committed an
       equal-or-newer version (conflict-on-commit: the loser raises and
       retries rather than ever moving the manifest backwards), then
       point the `_CURRENT` manifest at the new version with one
       `os.replace` — atomic on POSIX, so a reader (or a crash) at ANY
       instant sees either the old complete snapshot or the new
       complete snapshot, never a mix and never a missing table.

    Returns the published version name. Old versions stay on disk until
    `vacuum_versions` — time-travel for free, and a crashed writer's
    orphan staging directory is invisible (nothing references it).

    At 100 TB the same protocol holds on an object store with a
    conditional-put manifest swap; the data move is one distributed
    write either way. This closes the crash window of plain
    mode=overwrite, which deletes the live files before the new ones
    are durable (tested in tests/test_merge.py).

    `bloom_columns` registers per-file point-lookup bloom sidecars as
    part of the commit (sources/files.write_bloom_sidecar): one extra
    distributed pass per column over the STAGED snapshot, written
    before the manifest swap so a published version's blooms are never
    observable half-built. Later merges carry them incrementally
    (merge_upsert_published → carry_bloom_sidecar)."""
    version = _stage_snapshot(spark, table_root, df, partition_by, audit)
    staged = os.path.join(table_root, version)
    for col in bloom_columns:
        _FILES.write_bloom_sidecar(spark, staged, col)
    _commit_manifest(table_root, version)
    return version


def _commit_manifest(table_root: str, version: str) -> None:
    """PUBLISH step shared by every manifest-root committer. Commit
    under the table lock so the conflict check and the manifest swap
    are one atomic step (check-then-act alone would let a concurrent
    publisher commit between the check and the os.replace, after which
    this swap would move the manifest BACKWARDS — possibly onto a
    version a concurrent vacuum just deleted). vacuum_versions takes
    the same lock, closing the race from the vacuum side too."""
    staged = os.path.join(table_root, version)
    with _commit_lock(table_root):
        cur = _published_version(table_root)
        if cur is not None and int(version[1:]) <= int(cur[1:]):
            raise RuntimeError(
                f"publish conflict: {cur} was published after this writer "
                f"claimed {version}; retry the publish"
            )
        if not os.path.isdir(staged):
            raise RuntimeError(
                f"staged version {staged} disappeared before commit "
                "(vacuumed by a concurrent process?); retry the publish"
            )
        _write_current(table_root, version)


def _write_current(root: str, version: str) -> None:
    """Point the `_CURRENT` manifest under `root` at `version`: write a
    temp file, then one atomic `os.replace` — the commit point. Callers
    hold the table's commit lock."""
    tmp = os.path.join(root, f".{_CURRENT}.tmp")
    with open(tmp, "w") as fh:
        fh.write(version)
    os.replace(tmp, os.path.join(root, _CURRENT))


def read_published(spark: SparkSession, table_root: str) -> DataFrame:
    """Read the snapshot the manifest points at. Unpublished staging
    directories (crashed writers) are invisible by construction."""
    version = _published_version(table_root)
    if version is None:
        raise FileNotFoundError(f"no published version under {table_root}")
    return _read_snapshot(spark, os.path.join(table_root, version))


def read_version(
    spark: SparkSession, table_root: str, version: str
) -> DataFrame:
    """Time travel: read a SPECIFIC retained snapshot (any `v{N}` not
    yet vacuumed), published or not. Reading an unpublished version is
    deliberate — it is the audit step's own view of a staged write."""
    path = os.path.join(table_root, version)
    if not os.path.isdir(path):
        raise FileNotFoundError(path)
    return _read_snapshot(spark, path)


def merge_upsert_published(
    spark: SparkSession,
    table_root: str,
    updates: DataFrame,
    keys: Sequence[str],
    partition_by: Sequence[str] = (),
    order_by: Sequence = (),
) -> str:
    """`merge_upsert`, for MANIFEST-root tables (the publish_overwrite /
    read_published layout — version dirs + `_CURRENT`, no symlink):
    touched-partition copy-on-write fold, hardlink carry of untouched
    partitions, WRITE → AUDIT → PUBLISH commit. Same precedence and
    partition-stability contract as `merge_upsert`. This is the plain
    fast path a stream writer routes to after `compact_evolved`
    collapses an evolved table back to one layout (the writer keeps
    merging; only the carry scope changes). Returns the published
    version name."""
    cur_v = _published_version(table_root)
    if cur_v is None:
        raise FileNotFoundError(f"no published version under {table_root}")
    cur_dir = os.path.join(table_root, cur_v)
    if os.path.isfile(os.path.join(cur_dir, "_SPECS.json")):
        # An evolved (multi-layout) snapshot would READ fine via the
        # evolution-aware _read_snapshot, but the staged plain write +
        # _link_untouched below never carries `_layout-*` subtrees —
        # untouched-partition rows would silently vanish from the
        # published result. Fail loudly instead of merging wrong.
        raise RuntimeError(
            f"{table_root} {cur_v} is an evolved multi-layout snapshot; "
            "compact_evolved it first or merge via evolved_merge"
        )
    existing = _read_snapshot(spark, cur_dir)
    if partition_by:
        updates, existing = _stage_touched(updates, existing, partition_by)
    version = _stage_snapshot(
        spark, table_root, _fold(updates, existing, keys, order_by),
        partition_by,
    )
    staged_dir = os.path.join(table_root, version)
    if partition_by:
        _link_untouched(cur_dir, staged_dir)
    for col in _FILES.bloom_sidecar_columns(cur_dir):
        # Standing manifest stat: bloom rows for hardlink-carried files
        # copy verbatim (relative paths unchanged); only rewritten
        # files get a fresh bloom pass — O(touched partitions).
        _FILES.carry_bloom_sidecar(spark, cur_dir, staged_dir, col)
    _commit_manifest(table_root, version)
    return version


def published_versions(table_root: str) -> tuple[list[str], str | None]:
    """(all retained version dirs in order, currently published one)."""
    versions = sorted(
        (d for d in os.listdir(table_root)
         if d.startswith("v") and d[1:].isdigit()),
        key=lambda d: int(d[1:]),
    ) if os.path.isdir(table_root) else []
    return versions, _published_version(table_root)


def vacuum_versions(table_root: str) -> list[str]:
    """Remove version directories STRICTLY OLDER than the published
    one; returns the versions removed. Only-older is the concurrency
    rule: a publish that lands mid-vacuum always claims a HIGHER
    version number, so a version the manifest might newly point at is
    never a deletion candidate (the naive 'everything except current'
    sweep would race: read current=v4, concurrent publish flips
    _CURRENT to v5, sweep deletes v5 — an unreadable published table).
    The other direction is closed on the publish side: a writer whose
    claimed version is <= current at commit time raises instead of
    moving the manifest backwards, so vacuum can never orphan a
    manifest pointer. Orphaned staging dirs NEWER than current
    (crashed writers) survive until a later publish moves current past
    them. Runs under the table's commit lock so the current-version
    read and the deletions are atomic with respect to publishers."""
    import shutil

    with _commit_lock(table_root):
        current = _published_version(table_root)
        if current is None:
            return []
        cur_n = int(current[1:])
        removed = []
        for d in sorted(os.listdir(table_root)):
            if d.startswith("v") and d[1:].isdigit() and int(d[1:]) < cur_n:
                shutil.rmtree(os.path.join(table_root, d))
                removed.append(d)
    return removed


def vacuum_path_table(target_path: str) -> list[str]:
    """`vacuum_versions` for a path table (one committed through
    `merge_upsert` / `publish_path` rather than `publish_overwrite`):
    resolves the hidden sibling versions root and removes every version
    strictly older than the published one. Same concurrency rules as
    `vacuum_versions` (only-older sweep under the commit lock).

    The steady-state caller is a streaming merge sink: each foreachBatch
    commit publishes a whole new snapshot version, so without retention
    an N-batch stream holds O(N x table size) on disk. Per-batch vacuum
    caps that at ~2 snapshots (published + the one being staged) —
    hardlink carry means untouched partitions share inodes across the
    two, so the real overhead is only the rewritten partitions."""
    vroot = _versions_root(target_path)
    if not os.path.isdir(vroot):
        return []
    return vacuum_versions(vroot)


def table_changes(
    spark: SparkSession,
    table_root: str,
    v_from: str,
    v_to: str,
    keys: Sequence[str],
) -> DataFrame:
    """Change data feed between two retained snapshots (Delta CDF /
    Iceberg changelog shape, computed from the versions the WAP writer
    already keeps): full-outer join `v_from` x `v_to` on the natural
    key, classifying every key as

      insert    — key absent from v_from
      delete    — key absent from v_to
      update    — key in both, any non-key column differs
      unchanged — key in both, all columns null-safe equal

    Returns one row per key: the key columns + `change_type`. Non-key
    comparison is NULL-SAFE per column (a value flipping to/from NULL
    is an update, not noise).

    Scale: one key-shuffled full-outer join between the two snapshots —
    the same cost as the merge that produced v_to; at 100 TB a real
    table format computes this from per-commit file-level metadata
    instead, but the semantics (and this operator's output) are
    identical, which is what the adjudicated consumer
    (`table_changes_feed`) pins. Both snapshots must still be retained
    (not vacuumed)."""
    a = read_version(spark, table_root, v_from).alias("a")
    b = read_version(spark, table_root, v_to).alias("b")
    non_keys = [c for c in a.columns if c not in keys]
    cond = functools.reduce(
        lambda x, y: x & y,
        [F.col(f"a.{k}").eqNullSafe(F.col(f"b.{k}")) for k in keys],
    )
    joined = a.join(b, cond, "full_outer")
    in_a = functools.reduce(
        lambda x, y: x | y, [F.col(f"a.{k}").isNotNull() for k in keys]
    )
    in_b = functools.reduce(
        lambda x, y: x | y, [F.col(f"b.{k}").isNotNull() for k in keys]
    )
    same = (
        functools.reduce(
            lambda x, y: x & y,
            [F.col(f"a.{c}").eqNullSafe(F.col(f"b.{c}")) for c in non_keys],
        )
        if non_keys
        else F.lit(True)
    )
    change = (
        F.when(~in_a, F.lit("insert"))
        .when(~in_b, F.lit("delete"))
        .when(same, F.lit("unchanged"))
        .otherwise(F.lit("update"))
    )
    return joined.select(
        *[
            F.coalesce(F.col(f"a.{k}"), F.col(f"b.{k}")).alias(k)
            for k in keys
        ],
        *[
            F.coalesce(F.col(f"b.{c}"), F.col(f"a.{c}")).alias(c)
            for c in non_keys
        ],
        change.alias("change_type"),
    )


def delete_where(
    spark: SparkSession,
    table_root: str,
    condition,
    keys: Sequence[str],
) -> str:
    """MERGE-ON-READ row deletion (the Iceberg v2 equality-delete /
    Delta deletion-vector capability, on plain parquet + the WAP
    manifest): delete the published rows matching `condition` WITHOUT
    rewriting any data file.

    The commit writes a new snapshot version that

      1. HARDLINKS every data file of the current version (and any
         prior delete files) — zero bytes of data copied or rewritten;
      2. appends ONE small parquet delete file under `_deletes/`
         holding just the key columns of the doomed rows;
      3. publishes through the same conflict-checked manifest swap as
         `publish_overwrite` — readers see either the old snapshot or
         the new one with the deletes applied, never a mix.

    Readers (`read_published` / `read_version` / `table_changes`)
    subtract the delete set with a null-safe anti-join at scan time;
    `compact_table` is the major compaction that folds the deletes
    into rewritten data files (the new version has no `_deletes/`).

    Why this matters at 100 TB: a copy-on-write erasure of 0.001% of
    rows rewrites every file that contains one of them — potentially
    the whole table. Merge-on-read writes O(deleted keys) bytes and
    defers the rewrite to the next scheduled compaction, which is how
    GDPR erasure SLAs are met on petabyte tables. Deletes accumulate
    across versions (each commit carries the prior delete files by
    hardlink); read cost grows with the delete-set size until
    compaction resets it.

    `keys` must identify rows for deletion purposes — every row whose
    key appears in the delete set is removed (exactly the equality-
    delete contract). All delete commits against one table must use
    the same key spec (enforced via the `_META.json` sidecar).
    Returns the published version name.

    Reference parity: the reference has no row-deletion path at all —
    erasure there is a full-table rewrite (see `user_erasure_audit`);
    this operator is the scale-correct replacement."""
    import shutil

    cur = _published_version(table_root)
    if cur is None:
        raise FileNotFoundError(f"no published version under {table_root}")
    cur_dir = os.path.join(table_root, cur)
    prior_meta = _delete_meta(cur_dir)
    if prior_meta is not None and list(prior_meta["keys"]) != list(keys):
        raise ValueError(
            f"delete key spec {list(keys)} != table's established "
            f"spec {prior_meta['keys']}"
        )
    # Doomed keys are computed against the CURRENT LOGICAL view (prior
    # deletes already applied), so re-deleting an already-deleted key
    # is a no-op rather than a duplicate entry.
    doomed = (
        _read_snapshot(spark, cur_dir)
        .filter(condition)
        .select(*keys)
        .dropDuplicates(list(keys))
    )
    version = _claim_next_version(table_root)
    staged = os.path.join(table_root, version)
    # Carry: every data file and prior delete file, by hardlink (inode
    # refcount keeps them alive if the old version is vacuumed).
    _link_all_files(cur_dir, staged)
    if os.path.isfile(os.path.join(cur_dir, _SCHEMA_SIDECAR)):
        shutil.copy(
            os.path.join(cur_dir, _SCHEMA_SIDECAR),
            os.path.join(staged, _SCHEMA_SIDECAR),
        )
    # The bloom parquet rows were hardlink-carried above (same relative
    # paths, same files); the per-column _META.json is dot/underscore-
    # filtered by the walk, so carry it explicitly — without it the
    # sidecar is unreadable after a merge-on-read delete and every
    # later maintenance pass silently stops maintaining the index.
    # Deleted keys staying bloom-admitted is the allowed false-positive
    # side of the contract.
    for col in _FILES.bloom_sidecar_columns(cur_dir):
        shutil.copy(
            os.path.join(cur_dir, "_blooms", col, "_META.json"),
            os.path.join(staged, "_blooms", col, "_META.json"),
        )
    ddir = os.path.join(staged, _DELETES)
    from pyspark.sql import Observation

    obs = Observation()
    (
        doomed.observe(obs, F.count(F.lit(1)).alias("n_deletes"))
        # a delete set is manifest-scale metadata: one file, not 32
        .coalesce(1)
        .write.mode("append")
        .parquet(ddir)
    )
    n_new = obs.get["n_deletes"]
    with open(os.path.join(ddir, "_META.json"), "w") as fh:
        json.dump({"keys": list(keys)}, fh)
    # AUDIT (both halves verified): (1) the staged data file set is
    # EXACTLY the current one, hardlinked — same relative paths, same
    # inodes, zero bytes copied; (2) the staged delete files read back
    # complete (every prior delete row plus the new ones). A failed
    # carry or a torn delete write raises here and never touches the
    # manifest.
    cur_files = _data_file_inodes(cur_dir)
    staged_files = _data_file_inodes(staged)
    if cur_files != staged_files:
        extra = set(staged_files) - set(cur_files)
        missing = set(cur_files) - set(staged_files)
        relinked = {
            p
            for p in set(cur_files) & set(staged_files)
            if cur_files[p] != staged_files[p]
        }
        raise RuntimeError(
            f"audit failed for {staged}: data file carry is not an "
            f"exact hardlink of {cur_dir} (extra={sorted(extra)[:3]}, "
            f"missing={sorted(missing)[:3]}, "
            f"inode-mismatch={sorted(relinked)[:3]})"
        )
    # Delete sets read back through the shared audit (a version without
    # a prior delete sidecar has no files there and reads back 0 rows).
    back, _ = _read_back(spark, ddir)
    prior, _ = _read_back(spark, os.path.join(cur_dir, _DELETES))
    if back != prior + n_new:
        raise RuntimeError(
            f"audit failed for {staged}: {back} delete rows read back "
            f"(expected {prior} carried + {n_new} new)"
        )
    _commit_manifest(table_root, version)
    return version
