"""Partition-spec EVOLUTION on the WAP manifest table (the Iceberg
partition-evolution capability, re-expressed on plain parquet):
re-partition a table for FUTURE writes without rewriting a byte of
existing data.

Why it exists at 100 TB: repartitioning a petabyte table by rewriting it
is a week of cluster time; the Iceberg answer is to version the
partition SPEC — old files keep their old layout, new files use the new
one, and the reader unions per-spec subtrees (each pruned by its own
layout). Compaction is the scheduled rewrite that folds everything into
the active spec when (if ever) it pays for itself.

Layout: an evolved snapshot version directory holds one subtree per
spec plus a manifest —

    v3/_SPECS.json              [{"id":0,"partition_by":["day"]},
                                 {"id":1,"partition_by":["day","event_type"]}]
    v3/_layout-0/day=.../*.parquet      (old files, HARDLINK-carried)
    v3/_layout-0/_deletes/...           (equality-deletes vs spec 0)
    v3/_layout-1/day=.../event_type=.../*.parquet   (new writes)

The `_layout-*` names are underscore-prefixed ON PURPOSE: plain
`spark.read.parquet(version_dir)` readers skip underscore directories,
so an evolved table can never be HALF-read by a reader that does not
understand specs — it reads as schema-less/empty (loud), exactly like a
real table format's directory. `read_evolved` is the reader.

Merge semantics across specs (`evolved_merge`): the update batch is
merged into the ACTIVE layout with the same touched-partition
copy-on-write carry as `merge.merge_upsert`; rows the batch REPLACES
that still live in legacy layouts are removed by appending ONLY the
batch keys with a live row in that layout to its equality-delete
sidecar (`_deletes`, `merge._apply_deletes` subtracts them at read) —
O(superseded rows) bytes per layout, never a legacy rewrite, and a
merge touching no legacy rows carries every sidecar by hardlink. A key deleted in a legacy
layout and re-inserted later lands in the active layout, so the delete
only ever suppresses superseded rows.

Reference parity: the reference repartitions by DROP TABLE + full
reload (populate_sources_dag.py's rebuild pattern); this module is the
scale-correct replacement.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from myserver_datawarehouse_spark.operators import merge as M
from myserver_datawarehouse_spark.sources import files as _FS

_SPECS = "_SPECS.json"
_SCHEMA = "_SCHEMA.json"


def _layout_dir(version_dir: str, spec_id: int) -> str:
    return os.path.join(version_dir, f"_layout-{spec_id}")


def _specs(version_dir: str) -> list[dict] | None:
    p = os.path.join(version_dir, _SPECS)
    if not os.path.isfile(p):
        return None
    with open(p) as fh:
        return json.load(fh)


def _snapshot_schema(version_dir: str) -> StructType:
    with open(os.path.join(version_dir, _SCHEMA)) as fh:
        return StructType.fromJson(json.load(fh))


def _current_dir(table_root: str) -> str:
    cur = M._published_version(table_root)
    if cur is None:
        raise FileNotFoundError(f"no published version under {table_root}")
    return os.path.join(table_root, cur)


def _read_layout(
    spark: SparkSession, version_dir: str, spec_id: int, schema: StructType
) -> DataFrame | None:
    """One spec subtree: partition-inferred parquet read, that layout's
    equality-deletes subtracted, then columns re-ordered and partition
    values cast back to the logical schema (hive round-trips stringify
    partition values; the snapshot-level `_SCHEMA.json` is the truth)."""
    ldir = _layout_dir(version_dir, spec_id)
    if not _FS._data_files_relative(ldir):
        return None
    df = M._apply_deletes(spark, ldir, spark.read.parquet(ldir))
    return df.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
    )


def read_snapshot_dir(spark: SparkSession, version_dir: str) -> DataFrame:
    """Spec-union read of ONE evolved version directory (the hook
    merge._read_snapshot dispatches through, which makes time travel
    and table_changes evolution-aware)."""
    specs = _specs(version_dir)
    schema = _snapshot_schema(version_dir)
    parts = [
        d
        for s in specs
        if (d := _read_layout(spark, version_dir, s["id"], schema))
        is not None
    ]
    if not parts:
        return spark.createDataFrame([], schema)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def read_evolved(spark: SparkSession, table_root: str) -> DataFrame:
    """Read the published snapshot of an evolved table: the unionByName
    of every spec subtree (each with its own partition pruning — a
    filter on a spec-1 partition column dir-prunes spec-1 files and
    row-group-prunes spec-0 files, the honest Iceberg behavior). Falls
    back to the plain reader for never-evolved tables, so one entry
    point serves both."""
    vdir = _current_dir(table_root)
    if _specs(vdir) is None:
        return M.read_published(spark, table_root)
    return read_snapshot_dir(spark, vdir)


def evolve_partition_spec(
    spark: SparkSession,
    table_root: str,
    new_partition_by: Sequence[str],
) -> str:
    """Commit a new snapshot whose ACTIVE partition spec is
    `new_partition_by`, carrying every existing data file by HARDLINK
    (zero data bytes written — the commit is O(files) metadata). The
    first evolution moves the flat/hive current snapshot under
    `_layout-0`; later evolutions append a spec. Returns the published
    version name."""
    cur_dir = _current_dir(table_root)
    specs = _specs(cur_dir)
    schema = (
        _snapshot_schema(cur_dir)
        if os.path.isfile(os.path.join(cur_dir, _SCHEMA))
        else M.read_published(spark, table_root).schema
    )
    missing = [c for c in new_partition_by if c not in schema.fieldNames()]
    if missing:
        raise ValueError(f"partition columns {missing} not in table schema")
    # Validate BEFORE claiming a version or linking a single file: a
    # no-op evolution on a large table must fail in O(1), not after an
    # O(files) hardlink carry (and a crash mid-carry would otherwise
    # leave an orphan staging dir for a doomed commit).
    active_spec = (
        M._partition_spec(cur_dir)
        if specs is None
        else list(specs[-1]["partition_by"])
    )
    if list(new_partition_by) == list(active_spec):
        raise ValueError(
            f"table already partitioned by {list(new_partition_by)}"
        )
    version = M._claim_next_version(table_root)
    staged = os.path.join(table_root, version)
    if specs is None:
        prior_spec = active_spec
        specs = [{"id": 0, "partition_by": prior_spec}]
        # Legacy snapshot becomes spec subtree 0 (data + deletes, all
        # hardlinks — inode refcount keeps them alive across vacuums).
        M._link_all_files(cur_dir, _layout_dir(staged, 0))
        # The blanket link also relocated any root bloom sidecar's
        # parquet (META-less, and its row paths would be wrong under
        # _layout-0) — drop the misplaced tree and carry the sidecar
        # properly at the version ROOT with layout-prefixed row paths,
        # so the index stays readable on the evolved snapshot (files
        # in newer layouts are uncovered → always candidates) and
        # compact_evolved knows which columns to rebuild.
        misplaced = os.path.join(
            _layout_dir(staged, 0), _FS.BLOOM_SIDECAR
        )
        shutil.rmtree(misplaced, ignore_errors=True)
        _carry_root_blooms(
            spark, cur_dir, staged,
            prefix=os.path.basename(_layout_dir(staged, 0)),
        )
        _carry_delete_meta(cur_dir, _layout_dir(staged, 0))
    else:
        for s in specs:
            src = _layout_dir(cur_dir, s["id"])
            if os.path.isdir(src):
                M._link_all_files(src, _layout_dir(staged, s["id"]))
                _carry_delete_meta(src, _layout_dir(staged, s["id"]))
        # Root bloom sidecar (row paths already _layout-*-prefixed by
        # the first evolution's carry): copy verbatim — layout data
        # files keep their relative paths across spec appends.
        _carry_root_blooms(spark, cur_dir, staged, prefix=None)
    new_id = specs[-1]["id"] + 1
    specs = specs + [{"id": new_id, "partition_by": list(new_partition_by)}]
    os.makedirs(_layout_dir(staged, new_id), exist_ok=True)
    _write_spec_manifest(staged, specs, schema)
    M._commit_manifest(table_root, version)
    return version


def _write_spec_manifest(
    staged: str, specs: list[dict], schema: StructType
) -> None:
    with open(os.path.join(staged, _SPECS), "w") as fh:
        json.dump(specs, fh)
    with open(os.path.join(staged, _SCHEMA), "w") as fh:
        fh.write(schema.json())


def _carry_root_blooms(
    spark: SparkSession,
    cur_dir: str,
    staged: str,
    prefix: str | None,
    columns: list[str] | None = None,
    prune_to: set | None = None,
) -> None:
    """Carry version-root bloom sidecars VERBATIM across an evolution
    commit. `prefix` rebases each row's relative path (the first
    evolution moves the flat snapshot under `_layout-0/`); later
    evolutions carry the rows verbatim. Used where verbatim is exact
    (evolve_partition_spec relinks every file, writing none) and as the
    safe fallback where a fresh pass is impossible (see
    _maintain_root_blooms) — partial coverage degrades to
    bloom_prune_files' uncovered-files-are-candidates rule, never to
    wrong results. `prune_to` (the staged snapshot's data-file set)
    drops rows for files the commit REMOVED: without it a
    partition-column bloom would re-copy dead rows forever across
    evolved merges, growing the manifest-scale path collects
    monotonically with commit count and permanently violating the
    paths-subset invariant _assert_sidecar_paths enforces on every
    other write path."""
    from pyspark.sql import functions as F

    cols = (
        _FS.bloom_sidecar_columns(cur_dir) if columns is None else columns
    )
    for col in cols:
        src = _FS._bloom_dir(cur_dir, col)
        if not prefix and prune_to is None:
            # Verbatim carry is a byte-identical file copy: no path
            # rebase, no pruning — round-tripping the sidecar through a
            # Spark read+write per commit only re-encodes the same rows
            # at one distributed-action cost each. Copy the committed
            # parquet files (and _META.json, below) directly.
            dst = _FS._bloom_dir(staged, col)
            os.makedirs(dst, exist_ok=True)
            for rel in _FS._data_files_relative(src):
                d = os.path.join(dst, rel)
                os.makedirs(os.path.dirname(d), exist_ok=True)
                shutil.copy(os.path.join(src, rel), d)
            shutil.copy(
                os.path.join(src, "_META.json"),
                os.path.join(dst, "_META.json"),
            )
            continue
        df = spark.read.parquet(src)
        if prefix:
            df = df.select(
                F.concat(F.lit(prefix + "/"), F.col("path")).alias("path"),
                "bloom",
            )
        if prune_to is not None:
            live = spark.createDataFrame(
                [(p,) for p in sorted(prune_to)], "path string"
            )
            df = df.join(F.broadcast(live), "path", "left_semi")
        dst = _FS._bloom_dir(staged, col)
        df.write.mode("overwrite").parquet(dst)
        shutil.copy(
            os.path.join(src, "_META.json"),
            os.path.join(dst, "_META.json"),
        )


def _maintain_root_blooms(
    spark: SparkSession, cur_dir: str, staged: str, specs: list[dict]
) -> None:
    """Incremental bloom maintenance for evolution-path COMMITS that
    write data (evolved_merge / evolved_append): rows for
    hardlink-carried files copy verbatim, files NEW in the staged
    snapshot (the active layout's rewritten/added part files) get a
    fresh distributed bloom pass, and rows for files the commit
    dropped fall away — the same O(touched files) contract as
    merge.merge_upsert_published's carry, so full sidecar coverage
    SURVIVES evolved writes instead of silently decaying to
    always-candidates (the round-11 documented gap at
    sources/files.py bloom_prune_files).

    One structural exception: a bloom column that is also a PARTITION
    column of any layout is not physically present in that layout's
    data files (partitioned writes move it into directory names), so a
    fresh per-file pass cannot hash it; that column falls back to the
    verbatim carry — partial coverage, never wrong."""
    cols = _FS.bloom_sidecar_columns(cur_dir)
    if not cols:
        return
    part_cols = {c for s in specs for c in s["partition_by"]}
    staged_files: set | None = None
    for col in cols:
        if col in part_cols:
            if staged_files is None:
                staged_files = set(_FS._data_files_relative(staged))
            # prune_to drops rows for files this commit removed — the
            # fallback stays partial (new files uncovered) but never
            # accumulates dead rows across commits.
            _carry_root_blooms(
                spark,
                cur_dir,
                staged,
                prefix=None,
                columns=[col],
                prune_to=staged_files,
            )
        else:
            _FS.carry_bloom_sidecar(spark, cur_dir, staged, col)


def _carry_delete_meta(src_layout: str, dst_layout: str) -> None:
    meta = os.path.join(src_layout, M._DELETES, "_META.json")
    if os.path.isfile(meta):
        os.makedirs(os.path.join(dst_layout, M._DELETES), exist_ok=True)
        shutil.copy(meta, os.path.join(dst_layout, M._DELETES, "_META.json"))


def evolved_merge(
    spark: SparkSession,
    table_root: str,
    updates: DataFrame,
    keys: Sequence[str],
    order_by: Sequence = (),
) -> str:
    """Upsert into an evolved table. New/updated rows land in the
    ACTIVE layout under its partition spec with the same
    touched-partition copy-on-write carry as `merge.merge_upsert`;
    superseded rows still living in LEGACY layouts are equality-deleted
    (the batch's keys append to each legacy `_deletes` sidecar —
    O(batch keys) bytes, no legacy data file touched, same null-safe
    anti-join at read as `delete_where`).

    Same precedence contract as merge_upsert: update wins by default,
    `order_by` (tiebreak-complete, descending) for value-order
    precedence. The batch's keys are first LOOKED UP in every legacy
    layout (one scan per legacy spec, semi-joined to the broadcast
    batch-key set) and the matching rows JOIN THE FOLD — so a stale
    replay loses to a newer legacy row just as it loses to a newer
    active row; whichever version survives lands in the active layout
    and the legacy copy dies by equality delete. That legacy lookup is
    the price of cross-layout upsert (a real table format pays it too,
    with manifest/bloom key-skipping narrowing the scan); keys not in
    any legacy layout cost the anti-join nothing. Partition values
    must remain a stable function of the key WITHIN each spec (the
    merge_upsert contract, per layout)."""
    cur_dir = _current_dir(table_root)
    specs = _specs(cur_dir)
    if specs is None:
        raise ValueError(
            f"{table_root} has no partition-spec manifest; use "
            "merge.merge_upsert or evolve_partition_spec first"
        )
    schema = _snapshot_schema(cur_dir)
    active = specs[-1]
    partition_by = list(active["partition_by"])
    version = M._claim_next_version(table_root)
    staged = os.path.join(table_root, version)
    try:
        from pyspark.sql import Observation

        from myserver_datawarehouse_spark.session import materialize

        # Stage the batch once: it feeds the fold, the broadcast key set
        # and each legacy layout's delete probe and sidecar rewrite, which
        # would otherwise each re-run the caller's full batch lineage.
        # The ACTIVE layout merges with touched-partition carry, its
        # existing side pruned to the touched partitions; with an
        # UNPARTITIONED active spec there is no prune (and nothing to
        # hardlink-carry), same as merge_upsert without partition_by.
        existing = _read_layout(spark, cur_dir, active["id"], schema)
        updates, existing = M._stage_touched(updates, existing, partition_by)
        # Legacy lookup: the batch keys' current rows in every legacy
        # layout enter the precedence fold (a newer legacy row beats a
        # stale replay under order_by).
        batch_keys = updates.select(*keys).dropDuplicates(list(keys))
        legacy_hits: dict[int, DataFrame] = {}
        for spec_l in specs[:-1]:
            lr = _read_layout(spark, cur_dir, spec_l["id"], schema)
            if lr is not None:
                legacy_hits[spec_l["id"]] = M._null_safe_semi(
                    lr, batch_keys, keys
                )
        # Legacy hits join the fold WHOLE: their partition values under
        # the ACTIVE spec may differ from where they sit in the legacy
        # layout, so the touched-partition prune does not apply to them.
        for hit in legacy_hits.values():
            existing = hit if existing is None else existing.unionByName(hit)
        merged = M._fold(updates, existing, keys, order_by)
        obs = Observation()
        adir = _layout_dir(staged, active["id"])
        M._write(
            merged.select(*schema.fieldNames()).observe(
                obs, F.count(F.lit(1)).alias("rows_written")
            ),
            adir, partition_by, mode="append",
        )
        expected = obs.get["rows_written"]
        cur_active = _layout_dir(cur_dir, active["id"])
        linked: list[str] = []
        if os.path.isdir(cur_active):
            linked = M._link_untouched(cur_active, adir)
            # Active-layout deletes: carried MINUS the batch's keys (a
            # re-inserted key must not be suppressed by its own past).
            _rewrite_deletes(
                spark, cur_active, adir, batch_keys, keys, subtract=True
            )
        # AUDIT the active layout before any legacy work — PHYSICAL
        # completeness, independent of the delete sidecars: its data
        # files must read back (rows this merge observed writing) +
        # (rows of the files the carry hardlinked).
        n, _ = M._read_back(spark, adir)
        carried, _ = M._read_back(
            spark, adir, [os.path.relpath(p, adir) for p in linked]
        )
        if n != expected + carried:
            raise RuntimeError(
                f"evolved_merge audit failed for {staged}: active layout "
                f"read back {n} rows (wrote {expected}, carried {carried})"
            )
        # LEGACY layouts: hardlink-carry + equality-delete ONLY the batch
        # keys with a live row in that layout, so each sidecar stays
        # O(superseded rows) instead of growing by every batch's keys.
        for sid, hit in legacy_hits.items():
            src, dst = _layout_dir(cur_dir, sid), _layout_dir(staged, sid)
            M._link_all_files(src, dst)
            # The sidecar rewrite consumes the hit keys twice (emptiness
            # probe + delete write): materialize them once, O(superseded
            # keys) rows.
            hit_keys = materialize(
                hit.select(*keys).dropDuplicates(list(keys))
            )
            _rewrite_deletes(spark, src, dst, hit_keys, keys, subtract=False)
        _write_spec_manifest(staged, specs, schema)
        # Root bloom sidecars maintain INCREMENTALLY: carried files'
        # rows copy verbatim, this commit's new active-layout files get
        # a fresh pass — pruning coverage survives the evolved merge.
        _maintain_root_blooms(spark, cur_dir, staged, specs)
    except Exception:
        shutil.rmtree(staged, ignore_errors=True)
        raise
    M._commit_manifest(table_root, version)
    return version


def _rewrite_deletes(
    spark: SparkSession,
    src_layout: str,
    dst_layout: str,
    key_set: DataFrame,
    keys: Sequence[str],
    subtract: bool,
) -> None:
    """Write `dst_layout/_deletes` as src's delete set MINUS (active
    layout: re-inserted keys resurrect) or PLUS (legacy layouts: the
    batch supersedes) `key_set`. Callers pass the RELEVANT keys only —
    for a legacy layout that is the batch keys with a live row in that
    layout, never the whole batch — so each sidecar stays O(rows it
    actually suppresses). The delete file is rewritten (not linked)
    because it changes; it is O(keys), not data-sized. When a legacy
    layout's `key_set` is empty the hardlink-carried sidecar stands
    verbatim and no rewrite (O(cumulative deletes)) is paid at all."""
    meta = M._delete_meta(src_layout)
    if meta is not None and list(meta["keys"]) != list(keys):
        raise ValueError(
            f"evolved_merge keys {list(keys)} != layout's established "
            f"delete spec {meta['keys']}"
        )
    if not subtract and key_set.limit(1).count() == 0:
        # Nothing to add to this legacy layout: its delete part files
        # are already hardlinked under dst by _link_all_files (delete
        # files are immutable-by-convention — every rewrite lands in a
        # NEW version dir), so only the sidecar's meta needs carrying
        # and the O(cumulative deletes) rewrite is skipped entirely.
        _carry_delete_meta(src_layout, dst_layout)
        return
    prior = None
    src_ddir = os.path.join(src_layout, M._DELETES)
    if meta is not None and _FS._data_files_relative(src_ddir):
        prior = (
            spark.read.parquet(src_ddir)
            .select(*keys)
            .dropDuplicates(list(keys))
        )
    if subtract:
        new_set = (
            None
            if prior is None
            else prior.join(
                F.broadcast(key_set),
                functools.reduce(
                    lambda a, b: a & b,
                    [prior[k].eqNullSafe(key_set[k]) for k in keys],
                ),
                "left_anti",
            )
        )
    else:
        new_set = (
            key_set
            if prior is None
            else prior.unionByName(key_set).dropDuplicates(list(keys))
        )
    dst_ddir = os.path.join(dst_layout, M._DELETES)
    # A carried-by-hardlink _deletes tree must be REPLACED, not
    # appended to (the links point at the old version's delete files).
    if os.path.isdir(dst_ddir):
        shutil.rmtree(dst_ddir)
    if new_set is None:
        return
    new_set.coalesce(1).write.mode("append").parquet(dst_ddir)
    with open(os.path.join(dst_ddir, "_META.json"), "w") as fh:
        json.dump({"keys": list(keys)}, fh)


def compact_evolved(
    spark: SparkSession, table_root: str
) -> str:
    """Major compaction: rewrite the whole logical table into the
    ACTIVE spec — specs collapse to one, every equality-delete folds
    into the data, and the snapshot becomes plain-reader-compatible
    again (a single hive tree at the version root, no `_SPECS.json`).
    This is the one deliberate full rewrite, scheduled when layout
    debt is worth paying down, never implicit."""
    cur_dir = _current_dir(table_root)
    specs = _specs(cur_dir)
    if specs is None:
        raise ValueError(f"{table_root} is not an evolved table")
    # Bloom sidecars survive the layout-debt paydown: the commit rebuilds
    # each indexed column's sidecar over the collapsed snapshot (full
    # rewrite → full rebuild, same amortization).
    return M.publish_overwrite(
        spark,
        table_root,
        read_snapshot_dir(spark, cur_dir),
        partition_by=list(specs[-1]["partition_by"]),
        bloom_columns=_FS.bloom_sidecar_columns(cur_dir),
    )


def _link_missing_files(src: str, dst: str) -> None:
    """Hardlink every data/delete file under src into dst, preserving
    relative paths, skipping paths dst already has (the freshly
    appended part files) — names never collide because Spark part
    files embed a per-write UUID."""
    for root, dirs, files in os.walk(src):
        dirs[:] = [d for d in dirs if not d.startswith(".")]
        rel = os.path.relpath(root, src)
        out = os.path.join(dst, rel) if rel != "." else dst
        os.makedirs(out, exist_ok=True)
        for f in files:
            if f.startswith((".", "_")):
                continue
            tgt = os.path.join(out, f)
            if not os.path.exists(tgt):
                os.link(os.path.join(root, f), tgt)


def evolved_append(
    spark: SparkSession, table_root: str, rows: DataFrame
) -> str:
    """Append-only ingest into an evolved table: the batch lands in the
    ACTIVE layout under its spec, every other file (all legacy layouts
    AND the active layout's existing partitions) carries by hardlink,
    and no delete bookkeeping runs — the O(batch) fast path for
    insert-only feeds (no keys, no precedence, duplicates allowed,
    exactly like `merge.append`)."""
    cur_dir = _current_dir(table_root)
    specs = _specs(cur_dir)
    if specs is None:
        raise ValueError(
            f"{table_root} has no partition-spec manifest; use "
            "merge.append or evolve_partition_spec first"
        )
    schema = _snapshot_schema(cur_dir)
    active = specs[-1]
    partition_by = list(active["partition_by"])
    version = M._claim_next_version(table_root)
    staged = os.path.join(table_root, version)
    try:
        from pyspark.sql import Observation

        obs = Observation()
        adir = _layout_dir(staged, active["id"])
        M._write(
            rows.select(*schema.fieldNames()).observe(
                obs, F.count(F.lit(1)).alias("rows_written")
            ),
            adir, partition_by, mode="append",
        )
        expected = obs.get["rows_written"]
        for s in specs:
            src = _layout_dir(cur_dir, s["id"])
            if not _FS._data_files_relative(src):
                continue
            dst = _layout_dir(staged, s["id"])
            if s["id"] == active["id"]:
                # An append rewrites NOTHING: every prior data file of
                # the active layout links in beside the new part files
                # (merge's _link_untouched is wrong here — it treats a
                # dir the write created as "rewritten" and would drop
                # the prior rows of appended partitions), and the whole
                # delete set carries verbatim (append-only feeds never
                # re-insert deleted keys — the fast-append contract).
                _link_missing_files(src, dst)
            else:
                M._link_all_files(src, dst)
            _carry_delete_meta(src, dst)
        # AUDIT (physical, as in evolved_merge): the active layout's data
        # files read back the prior ones plus the appended rows.
        n, _ = M._read_back(spark, adir)
        prior_n, _ = M._read_back(spark, _layout_dir(cur_dir, active["id"]))
        if n != expected + prior_n:
            raise RuntimeError(
                f"evolved_append audit failed for {staged}: active "
                f"layout read back {n} rows (appended {expected}, "
                f"prior {prior_n})"
            )
        _write_spec_manifest(staged, specs, schema)
        # Root bloom sidecars maintain INCREMENTALLY: every prior file
        # carried by hardlink keeps its row verbatim, only this batch's
        # new part files get a fresh pass — append cost stays O(batch).
        _maintain_root_blooms(spark, cur_dir, staged, specs)
    except Exception:
        shutil.rmtree(staged, ignore_errors=True)
        raise
    M._commit_manifest(table_root, version)
    return version
