"""Merge/upsert writer semantics (S4-S7): idempotency, update-wins,
partition-scoped rewrite, idempotent DDL."""

import os
import re

import pytest
from pyspark.sql import functions as F

from myserver_datawarehouse_spark.operators import merge as M


def rows_of(spark, path):
    return {
        tuple(r) for r in spark.read.parquet(path).select("id", "v", "d").collect()
    }


def batch(spark, rows):
    return spark.createDataFrame(rows, "id long, v string, d int")


def test_merge_upsert_idempotent(spark, tmp_path):
    p = str(tmp_path / "t")
    b = batch(spark, [(1, "a", 10), (2, "b", 10)])
    M.merge_upsert(spark, p, b, keys=["id"], partition_by=["d"])
    first = rows_of(spark, p)
    M.merge_upsert(spark, p, b, keys=["id"], partition_by=["d"])
    assert rows_of(spark, p) == first == {(1, "a", 10), (2, "b", 10)}


def test_merge_update_wins_insert_new(spark, tmp_path):
    p = str(tmp_path / "t")
    M.merge_upsert(spark, p, batch(spark, [(1, "a", 10), (2, "b", 10)]), keys=["id"])
    M.merge_upsert(spark, p, batch(spark, [(2, "B", 10), (3, "c", 10)]), keys=["id"])
    assert rows_of(spark, p) == {(1, "a", 10), (2, "B", 10), (3, "c", 10)}


def test_partitioned_merge_keeps_untouched_partitions(spark, tmp_path):
    p = str(tmp_path / "t")
    M.merge_upsert(
        spark, p, batch(spark, [(1, "a", 10), (2, "b", 20)]), keys=["id"],
        partition_by=["d"],
    )
    # second batch touches only partition d=20
    M.merge_upsert(
        spark, p, batch(spark, [(2, "B", 20), (3, "c", 20)]), keys=["id"],
        partition_by=["d"],
    )
    assert rows_of(spark, p) == {(1, "a", 10), (2, "B", 20), (3, "c", 20)}


def test_batch_internal_dups_deduped(spark, tmp_path):
    # window-dedup inside one batch: highest precedence row per key wins
    p = str(tmp_path / "t")
    b = batch(spark, [(1, "x", 10), (1, "y", 10)])
    deduped = M.dedup_latest(b, keys=["id"], order_by=["v"])
    M.merge_upsert(spark, p, deduped, keys=["id"])
    assert rows_of(spark, p) == {(1, "y", 10)}


def test_create_if_not_exists_idempotent(spark, tmp_path):
    p = str(tmp_path / "t")
    tpl = batch(spark, [(1, "a", 10)])
    M.create_if_not_exists(spark, p, tpl)
    assert spark.read.parquet(p).count() == 0
    # existing data is never clobbered
    M.append(batch(spark, [(5, "z", 1)]), p)
    M.create_if_not_exists(spark, p, tpl)
    assert rows_of(spark, p) == {(5, "z", 1)}


def test_overwrite_truncates(spark, tmp_path):
    p = str(tmp_path / "t")
    M.append(batch(spark, [(1, "a", 10)]), p)
    M.overwrite(batch(spark, [(9, "n", 1)]), p)
    assert rows_of(spark, p) == {(9, "n", 1)}


def test_incremental_agg_invariant_under_cutoff(spark, monkeypatch):
    """base ⊕ delta == recompute for ANY split point: decimal partials
    are associative, so the merged aggregate cannot depend on where the
    incremental boundary falls."""
    from myserver_datawarehouse_spark.plans import relational as R

    sf = "/root/testdata/sf0.001"
    results = []
    for cutoff in ("2024-01-05", "2024-01-20", "2030-01-01"):
        monkeypatch.setattr(R, "INCR_AGG_CUTOFF", cutoff)
        rows = {
            (r.date_id, r.event_type): (r.n_events, r.sum_value)
            for r in R.incremental_agg_maintenance(spark, sf).collect()
        }
        results.append(rows)
    assert results[0] == results[1] == results[2]


def test_publish_overwrite_crash_window_leaves_old_table_readable(
    spark, tmp_path, monkeypatch
):
    """The WAP commit protocol's whole point: a crash at ANY instant
    between the staged write and the manifest swap must leave the
    previously published snapshot fully readable and unchanged."""
    import os

    root = str(tmp_path / "wap")
    v1 = M.publish_overwrite(spark, root, batch(spark, [(1, "a", 1), (2, "b", 1)]))
    assert v1 == "v1"
    old = {tuple(r) for r in M.read_published(spark, root).collect()}
    assert len(old) == 2

    # Simulate a crash at the commit point: the staged write and audit
    # complete, then the process dies before the manifest swap.
    real_replace = os.replace

    def crash(*a, **k):
        raise OSError("simulated crash before manifest swap")

    monkeypatch.setattr(os, "replace", crash)
    try:
        M.publish_overwrite(spark, root, batch(spark, [(9, "z", 9)]))
    except OSError:
        pass
    monkeypatch.setattr(os, "replace", real_replace)

    # The old snapshot is still the published one, byte-for-byte; the
    # orphaned staging directory exists but is invisible to readers.
    assert {tuple(r) for r in M.read_published(spark, root).collect()} == old
    assert os.path.isdir(os.path.join(root, "v2"))  # orphan staged dir

    # A later writer recovers naturally: next version skips past the
    # orphan, publishes atomically, and vacuum reclaims the rest.
    v3 = M.publish_overwrite(spark, root, batch(spark, [(9, "z", 9)]))
    assert v3 == "v3"
    assert {tuple(r) for r in M.read_published(spark, root).collect()} == {
        (9, "z", 9)
    }
    removed = M.vacuum_versions(root)
    assert set(removed) == {"v1", "v2"}
    assert {tuple(r) for r in M.read_published(spark, root).collect()} == {
        (9, "z", 9)
    }


def test_publish_overwrite_unpublished_root_raises(spark, tmp_path):
    import pytest

    with pytest.raises(FileNotFoundError):
        M.read_published(spark, str(tmp_path / "nothing"))


def test_publish_overwrite_crash_at_every_step(spark, tmp_path):
    """Exhaustive crash injection: fail the publish at EACH of its
    observable steps (staged write, audit read, manifest tmp write,
    manifest swap) and assert the published snapshot is unchanged and
    readable after every failure — the WAP protocol's invariant, not
    just the single commit-point case."""
    import os

    import pytest

    root = str(tmp_path / "wap_steps")
    M.publish_overwrite(spark, root, batch(spark, [(1, "a", 1)]))
    old = {tuple(r) for r in M.read_published(spark, root).collect()}

    # step 1: crash during the staged WRITE (bad input plan).
    bad = batch(spark, [(2, "b", 2)]).selectExpr(
        "id", "v", "d", "raise_error('boom') AS x"
    )
    with pytest.raises(Exception):
        M.publish_overwrite(spark, root, bad)
    assert {tuple(r) for r in M.read_published(spark, root).collect()} == old

    # step 2: audit failure (schema probe mismatch is simulated by a
    # frame whose audit read-back raises; use monkey-free approach —
    # audit=True re-reads the staged dir, so corrupt it between write
    # and audit cannot be injected without hooks; instead verify the
    # audit=False + manifest-crash path at the tmp-file step).
    real_open = open

    def crash_open(path, *a, **k):
        if str(path).endswith("._CURRENT.tmp"):
            raise OSError("simulated crash writing manifest tmp")
        return real_open(path, *a, **k)

    import builtins

    builtins_open = builtins.open
    builtins.open = crash_open
    try:
        with pytest.raises(OSError):
            M.publish_overwrite(spark, root, batch(spark, [(3, "c", 3)]))
    finally:
        builtins.open = builtins_open
    assert {tuple(r) for r in M.read_published(spark, root).collect()} == old

    # step 3: crash at the atomic swap itself (covered in the dedicated
    # crash-window test); here assert recovery: a clean publish after
    # all the failures lands and time travel still sees v1.
    M.publish_overwrite(spark, root, batch(spark, [(9, "z", 9)]))
    assert {tuple(r) for r in M.read_published(spark, root).collect()} == {
        (9, "z", 9)
    }
    versions, current = M.published_versions(root)
    assert versions[0] == "v1" and current == versions[-1]
    assert {tuple(r.asDict().values()) for r in
            M.read_version(spark, root, "v1").select("id", "v", "d").collect()
            } == old


def test_merge_upsert_crash_window_leaves_old_table_readable(
    spark, tmp_path, monkeypatch
):
    """Round-7 writer unification: merge_upsert now commits through the
    same WAP protocol as publish_overwrite, so a crash at the commit
    point (the symlink swap) must leave the old table fully readable at
    its plain path — the old mode("overwrite") path had already deleted
    the live files at this instant."""
    import os

    p = str(tmp_path / "t")
    M.merge_upsert(spark, p, batch(spark, [(1, "a", 10), (2, "b", 20)]),
                   keys=["id"], partition_by=["d"])
    old = rows_of(spark, p)

    real_replace = os.replace

    def crash(src, dst, *a, **k):
        if "__swap" in str(src):
            raise OSError("simulated crash at symlink swap")
        return real_replace(src, dst, *a, **k)

    monkeypatch.setattr(os, "replace", crash)
    try:
        M.merge_upsert(spark, p, batch(spark, [(2, "B", 20)]),
                       keys=["id"], partition_by=["d"])
    except OSError:
        pass
    monkeypatch.setattr(os, "replace", real_replace)

    # Plain-path readers still see the old complete snapshot.
    assert rows_of(spark, p) == old

    # The next writer recovers naturally and commits the update.
    M.merge_upsert(spark, p, batch(spark, [(2, "B", 20)]),
                   keys=["id"], partition_by=["d"])
    assert rows_of(spark, p) == {(1, "a", 10), (2, "B", 20)}


def test_merge_upsert_untouched_partitions_carried_by_hardlink(
    spark, tmp_path
):
    """Partition-granular copy-on-write: a merge touching one partition
    must carry the other partitions' data files into the new snapshot as
    hardlinks (no data copy, no rewrite) and stay readable after the old
    versions are vacuumed."""
    import os

    p = str(tmp_path / "t")
    M.merge_upsert(spark, p, batch(spark, [(1, "a", 10), (2, "b", 20)]),
                   keys=["id"], partition_by=["d"])
    v1_files = {
        f: os.stat(os.path.join(os.path.realpath(p), "d=10", f)).st_ino
        for f in os.listdir(os.path.join(os.path.realpath(p), "d=10"))
        if f.endswith(".parquet")
    }
    M.merge_upsert(spark, p, batch(spark, [(2, "B", 20), (3, "c", 20)]),
                   keys=["id"], partition_by=["d"])
    snap = os.path.realpath(p)
    carried = {
        f: os.stat(os.path.join(snap, "d=10", f)).st_ino
        for f in os.listdir(os.path.join(snap, "d=10"))
        if f.endswith(".parquet")
    }
    assert carried == v1_files  # same inodes: hardlinked, not copied
    assert rows_of(spark, p) == {(1, "a", 10), (2, "B", 20), (3, "c", 20)}

    # Vacuuming the superseded version must not break the live snapshot
    # (hardlinks hold the inodes).
    vroot = M._versions_root(p)
    removed = M.vacuum_versions(vroot)
    assert removed  # v1 reclaimed
    assert rows_of(spark, p) == {(1, "a", 10), (2, "B", 20), (3, "c", 20)}


def test_merge_upsert_migrates_legacy_plain_dir(spark, tmp_path):
    """A table created by plain append/overwrite (pre-WAP layout) is
    migrated on its first merge: the legacy directory becomes v0 in the
    versions root and the path becomes the snapshot symlink; readers
    never change."""
    import os

    p = str(tmp_path / "t")
    M.append(batch(spark, [(1, "a", 10)]), p)
    assert os.path.isdir(p) and not os.path.islink(p)
    M.merge_upsert(spark, p, batch(spark, [(2, "b", 10)]), keys=["id"])
    assert os.path.islink(p)
    assert rows_of(spark, p) == {(1, "a", 10), (2, "b", 10)}
    versions, current = M.published_versions(M._versions_root(p))
    assert "v0" in versions and current == "v1"


def test_publish_overwrite_empty_snapshot_roundtrips(spark, tmp_path):
    """A 0-row publish is legitimate (e.g. an erasure that removes every
    row): the audit must not choke on parquet schema inference over an
    empty staged directory, and the published snapshot must read back
    empty with the writer's schema (via the _SCHEMA.json sidecar)."""
    root = str(tmp_path / "wap_empty")
    M.publish_overwrite(spark, root, batch(spark, [(1, "a", 1)]))
    empty = batch(spark, [(1, "a", 1)]).filter("id < 0")
    v2 = M.publish_overwrite(spark, root, empty)
    assert v2 == "v2"
    out = M.read_published(spark, root)
    assert out.count() == 0
    assert set(out.columns) == {"id", "v", "d"}


def test_overwrite_on_wap_table_commits_new_version(spark, tmp_path):
    """S7 truncate-and-reload on a WAP-committed table must not delete
    through the snapshot symlink (which would empty the published
    version dir); it commits a fresh version and old snapshots stay
    time-travelable until vacuum."""
    import os

    p = str(tmp_path / "t")
    M.merge_upsert(spark, p, batch(spark, [(1, "a", 10)]), keys=["id"])
    assert os.path.islink(p)
    v1_dir = os.path.realpath(p)
    M.overwrite(batch(spark, [(9, "z", 9)]), p)
    assert rows_of(spark, p) == {(9, "z", 9)}
    # The superseded snapshot is untouched and still readable.
    assert os.path.isdir(v1_dir)
    old = {tuple(r) for r in
           spark.read.parquet(v1_dir).select("id", "v", "d").collect()}
    assert old == {(1, "a", 10)}


def test_merge_multilevel_partitions_carried(spark, tmp_path):
    """Two-level partitioning: a merge touching (d=10, e=1) only must
    carry (d=10, e=2) — an untouched leaf under a touched prefix — and
    (d=20, *) wholesale, recursively."""
    p = str(tmp_path / "t")

    def b2(rows):
        return spark.createDataFrame(rows, "id long, v string, d int, e int")

    M.merge_upsert(
        spark, p,
        b2([(1, "a", 10, 1), (2, "b", 10, 2), (3, "c", 20, 1)]),
        keys=["id"], partition_by=["d", "e"],
    )
    M.merge_upsert(
        spark, p, b2([(1, "A", 10, 1)]), keys=["id"],
        partition_by=["d", "e"],
    )
    got = {
        tuple(r) for r in
        spark.read.parquet(p).select("id", "v", "d", "e").collect()
    }
    assert got == {(1, "A", 10, 1), (2, "b", 10, 2), (3, "c", 20, 1)}


def test_partitioned_merge_heals_flat_layout(spark, tmp_path):
    """A table first created by a plain unpartitioned append keeps its
    rows in top-level flat files; a later partitioned merge must not
    drop the rows outside the touched partitions (the hardlink carry
    only understands partition dirs) — it falls back to a full rewrite
    that also heals the table into the partitioned layout."""
    import os

    p = str(tmp_path / "t")
    M.append(batch(spark, [(1, "a", 10), (2, "b", 20)]), p)  # flat layout
    M.merge_upsert(spark, p, batch(spark, [(2, "B", 20)]), keys=["id"],
                   partition_by=["d"])
    assert rows_of(spark, p) == {(1, "a", 10), (2, "B", 20)}
    # Healed: the new snapshot is hive-partitioned.
    snap = os.path.realpath(p)
    assert any(f.startswith("d=") for f in os.listdir(snap))
    # And the next merge uses the partition-granular carry again.
    M.merge_upsert(spark, p, batch(spark, [(3, "c", 20)]), keys=["id"],
                   partition_by=["d"])
    assert rows_of(spark, p) == {(1, "a", 10), (2, "B", 20), (3, "c", 20)}


def test_ensure_columns_preserves_partition_layout(spark, tmp_path):
    """Schema evolution on a partitioned table must keep the hive
    layout: flattening it would strand the history outside the layout
    a later partitioned merge carries forward (silent row loss)."""
    import os

    p = str(tmp_path / "t")
    M.merge_upsert(spark, p, batch(spark, [(1, "a", 10), (2, "b", 20)]),
                   keys=["id"], partition_by=["d"])
    added = M.ensure_columns(spark, p, {"tag": "string"})
    assert added == ["tag"]
    snap = os.path.realpath(p)
    assert any(f.startswith("d=") for f in os.listdir(snap))  # still hive
    # Untouched-partition carry still works after the evolution.
    M.merge_upsert(
        spark, p,
        spark.createDataFrame([(2, "B", 20, "x")],
                              "id long, v string, d int, tag string"),
        keys=["id"], partition_by=["d"],
    )
    got = {
        tuple(r) for r in
        spark.read.parquet(p).select("id", "v", "d", "tag").collect()
    }
    assert got == {(1, "a", 10, None), (2, "B", 20, "x")}


def test_writer_random_op_sequences_match_model(spark, tmp_path):
    """Stateful model check over the WAP writer: random (seeded,
    reproducible) sequences of merge/append/overwrite against one table
    must match a dict model after EVERY op — the class of bug this
    hunts is state carried wrongly across commits (a stale hardlink, a
    snapshot leaking through a swap, a partition dropped on a layout
    transition). Partition values are a function of the key (the
    writer's partition-scoped-merge contract: keys imply partition);
    appends only introduce fresh keys (merging pre-existing duplicate
    key rows is undefined tie-breaking by design)."""
    import random

    rng = random.Random(7)

    def dpart(i):
        return (i % 3 + 1) * 10

    for trial in range(3):
        p = str(tmp_path / f"t{trial}")
        partitioned = trial != 1
        pby = ["d"] if partitioned else []
        model: dict[int, tuple] = {}
        for step in range(6):
            op = rng.choice(["merge", "merge", "append", "overwrite"])
            ids = rng.sample(range(12), rng.randint(1, 4))
            rows = [(i, rng.choice("abcdef"), dpart(i)) for i in ids]
            if op == "merge":
                M.merge_upsert(spark, p, batch(spark, rows), keys=["id"],
                               partition_by=pby)
                model.update({r[0]: r for r in rows})
            elif op == "append":
                fresh = [r for r in rows if r[0] not in model]
                if not fresh or not model:
                    continue  # appending to a not-yet-created table: skip
                M.append(batch(spark, fresh), p, partition_by=pby)
                model.update({r[0]: r for r in fresh})
            else:
                if not model:
                    continue
                M.overwrite(batch(spark, rows), p, partition_by=pby)
                model = {r[0]: r for r in rows}
            got = rows_of(spark, p)
            want = set(model.values())
            assert got == want, (
                f"trial {trial} step {step} op {op}: {got} != {want}"
            )


def test_append_layout_mismatch_raises(spark, tmp_path):
    """A mismatched-partitioning append must fail loudly: Spark's
    partition discovery silently ignores flat part files inside a
    hive-partitioned table, so the mixed layout would lose the appended
    rows from every subsequent read."""
    import pytest

    p = str(tmp_path / "t")
    M.merge_upsert(spark, p, batch(spark, [(1, "a", 10)]), keys=["id"],
                   partition_by=["d"])
    with pytest.raises(ValueError, match="layout mismatch"):
        M.append(batch(spark, [(9, "z", 30)]), p)  # flat into partitioned
    q = str(tmp_path / "u")
    M.append(batch(spark, [(1, "a", 10)]), q)  # flat table
    with pytest.raises(ValueError, match="layout mismatch"):
        M.append(batch(spark, [(9, "z", 30)]), q, partition_by=["d"])


def test_compact_table_partitioned(spark, tmp_path):
    """Partitioned compaction: one file per hive partition afterwards,
    rows byte-identical, fragmented snapshot retained for time travel
    until vacuum."""
    import os

    p = str(tmp_path / "t")
    M.merge_upsert(spark, p, batch(spark, [(0, "a", 10), (1, "b", 20)]),
                   keys=["id"], partition_by=["d"])
    for i in range(1, 4):
        M.append(
            batch(spark, [(i * 2, "a", 10), (i * 2 + 1, "b", 20)])
            .repartition(2),
            p, partition_by=["d"],
        )
    before_rows = rows_of(spark, p)
    before_files = M.data_file_count(p)
    M.compact_table(spark, p)
    assert rows_of(spark, p) == before_rows
    after_files = M.data_file_count(p)
    assert after_files < before_files
    snap = os.path.realpath(p)
    for part in ("d=10", "d=20"):
        files = [
            f for f in os.listdir(os.path.join(snap, part))
            if not f.startswith((".", "_"))
        ]
        assert len(files) == 1, (part, files)
    # Old fragmented snapshot still time-travelable, then reclaimed.
    vroot = M._versions_root(p)
    versions, current = M.published_versions(vroot)
    assert len(versions) >= 2
    M.vacuum_versions(vroot)
    assert rows_of(spark, p) == before_rows


def test_repair_symlink_recovers_migration_crash(spark, tmp_path):
    """Crash inside the one-time legacy-migration window (symlink
    removed after the versions root was committed): the next writer
    entry must re-point the path at the published snapshot and proceed
    — no data loss, no manual repair."""
    import os

    p = str(tmp_path / "t")
    M.merge_upsert(spark, p, batch(spark, [(1, "a", 10), (2, "b", 20)]),
                   keys=["id"], partition_by=["d"])
    os.unlink(p)  # simulate: crash between rename/manifest and swap
    assert not os.path.exists(p)
    # Reader path is restored by the next writer and the merge lands on
    # the published (pre-crash) snapshot, not an empty table.
    M.merge_upsert(spark, p, batch(spark, [(2, "B", 20)]), keys=["id"],
                   partition_by=["d"])
    assert rows_of(spark, p) == {(1, "a", 10), (2, "B", 20)}


def test_coalesce_merge_preserves_partition_layout(spark, tmp_path):
    """merge_upsert_coalesce on a partitioned table must keep the hive
    layout (same hazard as schema evolution: a flattened snapshot
    strands history outside later partitioned merges' carry)."""
    import os

    p = str(tmp_path / "t")
    M.merge_upsert(spark, p, batch(spark, [(1, "a", 10), (2, "b", 20)]),
                   keys=["id"], partition_by=["d"])
    M.merge_upsert_coalesce(
        spark, p, batch(spark, [(2, None, 20)]), keys=["id"],
        keep_cols=["v"],
    )
    got = rows_of(spark, p)
    assert got == {(1, "a", 10), (2, "b", 20)}  # NULL keeps existing v
    snap = os.path.realpath(p)
    assert any(f.startswith("d=") for f in os.listdir(snap))
    # Later partitioned merge still carries the untouched partition.
    M.merge_upsert(spark, p, batch(spark, [(3, "c", 20)]), keys=["id"],
                   partition_by=["d"])
    assert rows_of(spark, p) == {(1, "a", 10), (2, "b", 20), (3, "c", 20)}


def test_migration_crash_before_swap_preserves_legacy_rows(
    spark, tmp_path, monkeypatch
):
    """Crash AFTER the legacy dir is renamed into the versions root but
    BEFORE the symlink swap (the first-ever migration window): the
    manifest-first protocol must leave a healable state — the next
    writer re-points the path at the preserved v0 snapshot and merges
    ON TOP of the old rows instead of silently treating the table as
    empty."""
    p = str(tmp_path / "t")
    M.append(batch(spark, [(1, "a", 10), (2, "b", 20)]), p)  # legacy table

    real_swap = M._swap_symlink
    calls = {"n": 0}

    def crash_swap(*a, **k):
        calls["n"] += 1
        if calls["n"] == 1:
            raise OSError("simulated crash before symlink swap")
        return real_swap(*a, **k)

    monkeypatch.setattr(M, "_swap_symlink", crash_swap)
    try:
        M.merge_upsert(spark, p, batch(spark, [(3, "c", 10)]), keys=["id"])
    except OSError:
        pass

    # Recovery merge: must land on the preserved legacy snapshot.
    M.merge_upsert(spark, p, batch(spark, [(3, "c", 10)]), keys=["id"])
    assert rows_of(spark, p) == {(1, "a", 10), (2, "b", 20), (3, "c", 10)}


def test_merge_layout_mismatch_raises(spark, tmp_path):
    """Merging with a partition spec that disagrees with the table's
    layout must fail loudly — the hardlink carry would otherwise commit
    a mixed-layout snapshot Spark cannot read back."""
    import pytest

    p = str(tmp_path / "t")
    M.merge_upsert(spark, p, batch(spark, [(1, "a", 10)]), keys=["id"],
                   partition_by=["d"])
    with pytest.raises(ValueError, match="layout mismatch"):
        M.merge_upsert(spark, p, batch(spark, [(2, "b", 20)]), keys=["id"],
                       partition_by=["v"])


def test_unpartitioned_merge_keeps_partitioned_layout(spark, tmp_path):
    """An unpartitioned merge_upsert call against a partitioned table
    merges full-table but must keep the hive layout, so later
    partitioned merges' copy-on-write carry still works."""
    import os

    p = str(tmp_path / "t")
    M.merge_upsert(spark, p, batch(spark, [(1, "a", 10), (2, "b", 20)]),
                   keys=["id"], partition_by=["d"])
    M.merge_upsert(spark, p, batch(spark, [(2, "B", 20)]), keys=["id"])
    assert rows_of(spark, p) == {(1, "a", 10), (2, "B", 20)}
    snap = os.path.realpath(p)
    assert any(f.startswith("d=") for f in os.listdir(snap))
    M.merge_upsert(spark, p, batch(spark, [(3, "c", 20)]), keys=["id"],
                   partition_by=["d"])
    assert rows_of(spark, p) == {(1, "a", 10), (2, "B", 20), (3, "c", 20)}


def test_compact_table_manifest_root(spark, tmp_path):
    """compact_table on a publish_overwrite manifest root: compacts the
    published snapshot through the manifest commit, counts only the
    current version's files, rows unchanged."""
    root = str(tmp_path / "wap")
    M.publish_overwrite(
        spark, root, batch(spark, [(1, "a", 1), (2, "b", 2)]).repartition(4)
    )
    before = M.data_file_count(root)
    assert before >= 2
    M.compact_table(spark, root)
    assert M.data_file_count(root) == 1
    assert {tuple(r) for r in M.read_published(spark, root).collect()} == {
        (1, "a", 1), (2, "b", 2)
    }


def test_null_partition_rows_survive_partitioned_merge(spark, tmp_path):
    # Round-7 advice: a null partition value writes into
    # __HIVE_DEFAULT_PARTITION__ (marking that directory touched, so the
    # hardlink carry skips it), but a plain equi-join semi-join never
    # matches null = null — existing null-partition rows were neither
    # merged nor carried. The touched-partition prune matches a null
    # partition value with IS NULL and keeps them.
    p = str(tmp_path / "t")
    M.merge_upsert(
        spark, p, batch(spark, [(1, "a", None), (2, "b", 10)]),
        keys=["id"], partition_by=["d"],
    )
    # batch touches the null partition: update key 1, insert key 3
    M.merge_upsert(
        spark, p, batch(spark, [(1, "A", None), (3, "c", None)]),
        keys=["id"], partition_by=["d"],
    )
    assert rows_of(spark, p) == {(1, "A", None), (3, "c", None), (2, "b", 10)}
    # batch that does NOT touch the null partition: carry preserves it
    M.merge_upsert(
        spark, p, batch(spark, [(2, "B", 10)]),
        keys=["id"], partition_by=["d"],
    )
    assert rows_of(spark, p) == {(1, "A", None), (3, "c", None), (2, "B", 10)}


def test_underscore_partition_column_path_table_merge(spark, tmp_path):
    """A path table partitioned only by an underscore-named column has
    nothing but `_col=v` directories at its top level: the merge must
    still see the table, sniff its layout and carry the untouched
    partitions."""
    p = str(tmp_path / "t")

    def rows(data):
        return spark.createDataFrame(data, "id long, v string, _d int")

    M.merge_upsert(spark, p, rows([(1, "a", 10), (2, "b", 20)]),
                   keys=["id"], partition_by=["_d"])
    M.merge_upsert(spark, p, rows([(2, "B", 20), (3, "c", 30)]),
                   keys=["id"], partition_by=["_d"])
    assert M._partition_spec(p) == ["_d"]
    assert {tuple(r) for r in spark.read.parquet(p)
            .select("id", "v", "_d").collect()} == {
        (1, "a", 10), (2, "B", 20), (3, "c", 30)
    }


def test_streaming_merge_target_vacuumed_per_batch(spark, tmp_path):
    # Round-7 advice: each foreachBatch commit publishes a new snapshot
    # version; without retention an N-batch stream holds O(N x table).
    # vacuum_path_table keeps only the published snapshot.
    p = str(tmp_path / "t")
    for i in range(4):
        M.merge_upsert(spark, p, batch(spark, [(i, "x", 10)]), keys=["id"],
                       partition_by=["d"])
        M.vacuum_path_table(p)
    import os

    vroot = M._versions_root(p)
    versions, current = M.published_versions(vroot)
    assert versions == [current]
    assert rows_of(spark, p) == {(i, "x", 10) for i in range(4)}
    # vacuum on a table with no versions root is a no-op
    assert M.vacuum_path_table(str(tmp_path / "nope")) == []


# ----------------------- merge-on-read deletion vectors (delete_where)


def _dv_table(spark, tmp_path):
    root = str(tmp_path / "dv")
    df = batch(
        spark,
        [(i, f"v{i}", i % 3) for i in range(30)],
    )
    v1 = M.publish_overwrite(spark, root, df)
    return root, v1


def test_delete_where_removes_rows_without_rewriting_files(
    spark, tmp_path
):
    import os

    root, v1 = _dv_table(spark, tmp_path)
    inodes_v1 = {
        f: os.stat(os.path.join(root, v1, f)).st_ino
        for f in os.listdir(os.path.join(root, v1))
        if not f.startswith((".", "_"))
    }
    v2 = M.delete_where(spark, root, F.col("d") == 0, keys=["id"])
    got = {r["id"] for r in M.read_published(spark, root).collect()}
    assert got == {i for i in range(30) if i % 3 != 0}
    # copy-on-write: every data file of v2 is the same inode as v1's
    inodes_v2 = {
        f: os.stat(os.path.join(root, v2, f)).st_ino
        for f in os.listdir(os.path.join(root, v2))
        if not f.startswith((".", "_"))
    }
    assert inodes_v2 and inodes_v2 == inodes_v1
    # time travel: v1 still reads the full table
    assert M.read_version(spark, root, v1).count() == 30


def test_delete_where_accumulates_and_redelete_is_noop(spark, tmp_path):
    root, _ = _dv_table(spark, tmp_path)
    M.delete_where(spark, root, F.col("id") < 5, keys=["id"])
    M.delete_where(spark, root, F.col("id") < 10, keys=["id"])
    assert M.read_published(spark, root).count() == 20
    # second commit's delete file holds only the NEW keys (5..9): the
    # doomed set was computed on the logical view with prior deletes
    # already applied
    import os

    cur = M._published_version(root)
    dels = spark.read.parquet(os.path.join(root, cur, "_deletes"))
    assert dels.count() == 10  # 5 carried + 5 new, no duplicates


def test_delete_where_crash_before_commit_leaves_table_intact(
    spark, tmp_path, monkeypatch
):
    root, _ = _dv_table(spark, tmp_path)

    def boom(*a, **k):
        raise RuntimeError("injected crash before manifest swap")

    monkeypatch.setattr(M, "_commit_manifest", boom)
    try:
        M.delete_where(spark, root, F.col("id") < 5, keys=["id"])
    except RuntimeError:
        pass
    monkeypatch.undo()
    assert M._published_version(root) == "v1"
    assert M.read_published(spark, root).count() == 30


def test_compact_folds_deletes_into_data(spark, tmp_path):
    import os

    root, _ = _dv_table(spark, tmp_path)
    M.delete_where(spark, root, F.col("d") == 1, keys=["id"])
    M.compact_table(spark, root)
    cur = M._published_version(root)
    assert M._delete_meta(os.path.join(root, cur)) is None
    got = {r["id"] for r in M.read_published(spark, root).collect()}
    assert got == {i for i in range(30) if i % 3 != 1}


def test_delete_where_key_spec_must_match(spark, tmp_path):
    import pytest

    root, _ = _dv_table(spark, tmp_path)
    M.delete_where(spark, root, F.col("id") == 0, keys=["id"])
    with pytest.raises(ValueError, match="key spec"):
        M.delete_where(spark, root, F.col("id") == 1, keys=["v"])


def test_delete_where_null_keys_are_null_safe(spark, tmp_path):
    root = str(tmp_path / "dvnull")
    df = spark.createDataFrame(
        [(None, "a", 0), (1, "b", 0), (2, "c", 1)],
        "id long, v string, d int",
    )
    M.publish_overwrite(spark, root, df)
    # deleting the null-id row must actually remove it (eqNullSafe
    # anti-join; a plain equi-join would never match null = null)
    M.delete_where(spark, root, F.col("id").isNull(), keys=["id"])
    got = {r["id"] for r in M.read_published(spark, root).collect()}
    assert got == {1, 2}


def test_delete_where_unpublished_root_raises(spark, tmp_path):
    import pytest

    with pytest.raises(FileNotFoundError):
        M.delete_where(
            spark, str(tmp_path / "nope"), F.lit(True), keys=["id"]
        )


def test_table_changes_sees_mor_deletes(spark, tmp_path):
    root, _ = _dv_table(spark, tmp_path)
    v2 = M.delete_where(spark, root, F.col("id") < 3, keys=["id"])
    v3 = M.delete_where(spark, root, F.col("id") == 5, keys=["id"])
    ch = M.table_changes(spark, root, v2, v3, keys=["id"])
    by_type = {
        r["change_type"]: r["n"]
        for r in ch.groupBy("change_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert by_type == {"delete": 1, "unchanged": 26}


def test_delete_where_on_partitioned_table(spark, tmp_path):
    """Round-8 advice: delete_where was only exercised unpartitioned.
    On a hive-partitioned snapshot the hardlink carry must reproduce
    the partition tree exactly (same inodes), _deletes must sit beside
    the partition dirs without confusing partition inference, and the
    delete key may BE the partition column."""
    import os

    root = str(tmp_path / "dvpart")
    df = batch(spark, [(i, f"v{i}", i % 3) for i in range(30)])
    v1 = M.publish_overwrite(spark, root, df, partition_by=["d"])
    inodes_v1 = M._data_file_inodes(os.path.join(root, v1))
    assert any(os.sep in p and p.startswith("d=") for p in inodes_v1)

    # delete keyed on the PARTITION column: drops a whole partition
    v2 = M.delete_where(spark, root, F.col("d") == 1, keys=["d"])
    got = M.read_published(spark, root)
    # partition column survives MOR read (inference skipped _deletes)
    assert set(got.columns) == {"id", "v", "d"}
    assert {r["id"] for r in got.collect()} == {
        i for i in range(30) if i % 3 != 1
    }
    # carry: every data file of v2 is the same inode, partition tree
    # included; the delete sidecar lives at the snapshot root
    v2_dir = os.path.join(root, v2)
    assert M._data_file_inodes(v2_dir) == inodes_v1
    assert os.path.isdir(os.path.join(v2_dir, "_deletes"))

    # a second delete keyed on the same spec accumulates (carried
    # delete file + new one) and time travel still sees v1 complete
    M.delete_where(spark, root, F.col("d") == 0, keys=["d"])
    assert {
        r["d"] for r in M.read_published(spark, root).collect()
    } == {2}
    assert M.read_version(spark, root, v1).count() == 30


def test_delete_where_null_partition_value(spark, tmp_path):
    """Null partition values render as __HIVE_DEFAULT_PARTITION__ on
    disk; the carry, the file-set audit and data_file_count must all
    treat that directory as data, and a MOR delete must be able to
    target the null partition (null-safe anti-join on the partition
    key)."""
    root = str(tmp_path / "dvnullpart")
    df = spark.createDataFrame(
        [(1, "a", None), (2, "b", 10), (3, "c", None)],
        "id long, v string, d int",
    )
    v1 = M.publish_overwrite(spark, root, df, partition_by=["d"])
    import os

    n_before = M.data_file_count(root)
    assert n_before >= 2  # the null partition's files ARE counted
    M.delete_where(spark, root, F.col("d").isNull(), keys=["d"])
    assert {
        tuple(r)
        for r in M.read_published(spark, root)
        .select("id", "v", "d")
        .collect()
    } == {(2, "b", 10)}
    # data files unchanged (MOR), including the null partition's
    assert M.data_file_count(root) == n_before
    assert M.read_version(spark, root, v1).count() == 3


def test_merge_reads_the_committed_schema_without_inference(spark, tmp_path):
    """A merge into a committed table takes the existing side's schema
    from its `_SCHEMA.json` sidecar: one job fewer than the same merge
    into a legacy plain directory, whose schema is still inferred."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()

    def jobs(action):
        lo = int(dag.nextJobId())
        action()
        return int(dag.nextJobId()) - lo

    rows = [(1, "a", 10), (2, "b", 20)]
    committed, legacy = str(tmp_path / "committed"), str(tmp_path / "legacy")
    M.merge_upsert(spark, committed, batch(spark, rows), keys=["id"],
                   partition_by=["d"])
    assert os.path.isfile(os.path.join(committed, "_SCHEMA.json"))
    batch(spark, rows).write.partitionBy("d").parquet(legacy)
    assert not os.path.isfile(os.path.join(legacy, "_SCHEMA.json"))
    # Inferring a parquet directory's schema costs one job.
    assert jobs(lambda: spark.read.parquet(legacy)) == 1

    def merge(path):
        return jobs(lambda: M.merge_upsert(
            spark, path, batch(spark, [(2, "B", 20), (3, "c", 30)]),
            keys=["id"], partition_by=["d"],
        ))

    assert merge(legacy) == merge(committed) + 1
    expected = {(1, "a", 10), (2, "B", 20), (3, "c", 30)}
    assert rows_of(spark, committed) == rows_of(spark, legacy) == expected


def _merge_executions(spark, action):
    """Run `action`; return (jobs it ran, physical plans of the SQL
    executions it started)."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def executions():
        bus.waitUntilEmpty()
        xs = store.executionsList()
        return {xs.apply(i).executionId(): xs.apply(i).physicalPlanDescription()
                for i in range(xs.size())}

    seen = executions()
    lo = int(dag.nextJobId())
    action()
    jobs = int(dag.nextJobId()) - lo
    return jobs, [p for i, p in sorted(executions().items()) if i not in seen]


def _parquet_batch(spark, tmp_path, name, rows, schema="id long, v string, d int"):
    """A batch read from parquet, as a tick's extract is: its partition
    values reach the merge only at run time (no constant propagation)."""
    src = str(tmp_path / name)
    spark.createDataFrame(rows, schema).write.parquet(src)
    return src, spark.read.parquet(src)


def test_partitioned_merge_reads_only_the_touched_partitions(spark, tmp_path):
    """The existing side of a partitioned merge scans with a static
    partition filter on the touched values: only the touched
    partition's files are listed and read, not the whole table."""
    p = str(tmp_path / "t")
    M.merge_upsert(spark, p, batch(spark, [(i, "a", i % 4) for i in range(8)]),
                   keys=["id"], partition_by=["d"])
    _, b = _parquet_batch(spark, tmp_path, "b", [(1, "B", 1), (9, "n", 1)])
    _, plans = _merge_executions(spark, lambda: M.merge_upsert(
        spark, p, b, keys=["id"], partition_by=["d"]))
    scans = [blk for plan in plans for blk in plan.split("\n\n")
             if "Scan parquet" in blk and f"file:{p}]" in blk]
    assert scans, plans
    for blk in scans:
        (filters,) = re.findall(r"PartitionFilters: \[(.*)\]", blk)
        assert re.search(r"\(d#\d+ = 1\)", filters), blk
    assert rows_of(spark, p) == (
        {(i, "a", i % 4) for i in range(8) if i != 1} | {(1, "B", 1), (9, "n", 1)}
    )


def test_partitioned_merge_runs_the_batch_once_in_three_jobs(spark, tmp_path):
    """A merge into an existing partitioned table runs three jobs: the
    batch staging (which also observes the touched partitions), the
    dedup shuffle's map stage and the write. The batch's source is
    scanned once."""
    p = str(tmp_path / "t")
    M.merge_upsert(spark, p, batch(spark, [(1, "a", 10), (2, "b", 20)]),
                   keys=["id"], partition_by=["d"])
    src, b = _parquet_batch(spark, tmp_path, "b", [(2, "B", 20), (3, "c", 30)])
    jobs, plans = _merge_executions(spark, lambda: M.merge_upsert(
        spark, p, b, keys=["id"], partition_by=["d"]))
    assert jobs == 3
    batch_scans = sum(plan.count(f"file:{src}]") for plan in plans)
    assert batch_scans == 1, plans
    assert rows_of(spark, p) == {(1, "a", 10), (2, "B", 20), (3, "c", 30)}


@pytest.mark.parametrize("reliable", ["false", "true"])
def test_touched_partition_prune_edge_cases(spark, tmp_path, reliable):
    """Null partition values, multi-column partitions and 0-row batches
    merge correctly under both `session.materialize` profiles."""
    from myserver_datawarehouse_spark.session import RELIABLE_CHECKPOINT_CONF

    spark.conf.set(RELIABLE_CHECKPOINT_CONF, reliable)
    try:
        # one column, null partition touched and untouched
        p = str(tmp_path / "one")
        M.merge_upsert(spark, p, batch(spark, [(1, "a", None), (2, "b", 10),
                                               (3, "c", 20)]),
                       keys=["id"], partition_by=["d"])
        _, b = _parquet_batch(spark, tmp_path, "b1",
                              [(1, "A", None), (4, "d", 10)])
        M.merge_upsert(spark, p, b, keys=["id"], partition_by=["d"])
        assert rows_of(spark, p) == {(1, "A", None), (2, "b", 10),
                                     (3, "c", 20), (4, "d", 10)}

        # two columns, a null in either position
        schema = "id long, v string, d int, e string"
        q = str(tmp_path / "two")
        seed = [(1, "a", 1, "x"), (2, "b", 1, None), (3, "c", None, "x"),
                (4, "d", 2, "y")]
        M.merge_upsert(spark, q, spark.createDataFrame(seed, schema),
                       keys=["id"], partition_by=["d", "e"])
        _, b = _parquet_batch(spark, tmp_path, "b2",
                              [(2, "B", 1, None), (3, "C", None, "x"),
                               (5, "e", 1, "x")], schema)
        M.merge_upsert(spark, q, b, keys=["id"], partition_by=["d", "e"])
        got = {tuple(r) for r in
               spark.read.parquet(q).select("id", "v", "d", "e").collect()}
        assert got == {(1, "a", 1, "x"), (2, "B", 1, None),
                       (3, "C", None, "x"), (4, "d", 2, "y"), (5, "e", 1, "x")}

        # a 0-row batch touches nothing and keeps every row
        before = rows_of(spark, p)
        _, b = _parquet_batch(spark, tmp_path, "b3", [(9, "z", 10)])
        M.merge_upsert(spark, p, b.filter("id < 0"), keys=["id"],
                       partition_by=["d"])
        assert rows_of(spark, p) == before
    finally:
        spark.conf.unset(RELIABLE_CHECKPOINT_CONF)
