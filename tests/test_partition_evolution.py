"""Partition-spec evolution (operators/evolution.py): spec versioning,
cross-layout merge semantics, delete-sidecar bookkeeping, compaction,
and the crash/vacuum safety the WAP protocol promises."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from myserver_datawarehouse_spark.operators import evolution as EV
from myserver_datawarehouse_spark.operators import merge as M


def _tbl(spark, tmp_path, partition_by=("day",)):
    root = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [
            (1, "a", 10, 1.0),
            (2, "a", 10, 2.0),
            (3, "b", 11, 3.0),
            (4, "b", 11, 4.0),
        ],
        "id long, typ string, day int, v double",
    )
    M.publish_overwrite(spark, root, df, partition_by=list(partition_by))
    return root


def _vals(spark, root):
    return sorted(
        (r.id, r.typ, r.day, r.v)
        for r in EV.read_evolved(spark, root).collect()
    )


def test_evolve_is_metadata_only_and_content_preserving(spark, tmp_path):
    root = _tbl(spark, tmp_path)
    before = _vals(spark, root)
    v1_files = {}
    v1 = os.path.join(root, M._published_version(root))
    for r, dirs, files in os.walk(v1):
        for f in files:
            if not f.startswith((".", "_")):
                v1_files[f] = os.stat(os.path.join(r, f)).st_ino
    EV.evolve_partition_spec(spark, root, ["day", "typ"])
    assert _vals(spark, root) == before
    # Every data file of the new snapshot is the SAME inode (hardlink
    # carry — zero data bytes written by the evolution commit).
    v2 = os.path.join(root, M._published_version(root))
    seen = {}
    for r, dirs, files in os.walk(v2):
        for f in files:
            if not f.startswith((".", "_")) and f.endswith(".parquet"):
                seen[f] = os.stat(os.path.join(r, f)).st_ino
    assert seen and all(v1_files.get(f) == ino for f, ino in seen.items())
    # Specs manifest records both layouts, new one active.
    specs = EV._specs(v2)
    assert [s["partition_by"] for s in specs] == [["day"], ["day", "typ"]]


def test_plain_reader_cannot_half_read_an_evolved_table(spark, tmp_path):
    root = _tbl(spark, tmp_path)
    EV.evolve_partition_spec(spark, root, ["typ"])
    vdir = os.path.join(root, M._published_version(root))
    # Underscore layout dirs are invisible to a plain parquet read: the
    # reader fails loudly (no files to infer from) instead of silently
    # returning a subset of the table.
    with pytest.raises(Exception):
        spark.read.parquet(vdir).collect()


def test_cross_layout_merge_updates_inserts_and_idempotency(spark, tmp_path):
    root = _tbl(spark, tmp_path)
    EV.evolve_partition_spec(spark, root, ["day", "typ"])
    upd = spark.createDataFrame(
        [(2, "a", 10, 20.0), (5, "c", 12, 5.0)],
        "id long, typ string, day int, v double",
    )
    EV.evolved_merge(spark, root, upd, keys=["id"])
    want = [
        (1, "a", 10, 1.0),
        (2, "a", 10, 20.0),
        (3, "b", 11, 3.0),
        (4, "b", 11, 4.0),
        (5, "c", 12, 5.0),
    ]
    assert _vals(spark, root) == want
    EV.evolved_merge(spark, root, upd, keys=["id"])  # replay
    assert _vals(spark, root) == want
    # The superseded legacy row was removed by an equality delete, not
    # a rewrite: layout-0 keeps its data files, with a _deletes sidecar.
    # The sidecar is BOUNDED to keys with a live row in that layout —
    # key 5 is a pure insert that never existed in layout 0, so it must
    # NOT bloat the sidecar (growth is O(superseded rows), not O(sum of
    # all batch keys)).
    vdir = os.path.join(root, M._published_version(root))
    l0 = EV._layout_dir(vdir, 0)
    assert os.path.isdir(os.path.join(l0, "_deletes"))
    dels = spark.read.parquet(os.path.join(l0, "_deletes"))
    assert sorted(r.id for r in dels.collect()) == [2]


def test_legacy_data_files_never_rewritten_by_merge(spark, tmp_path):
    root = _tbl(spark, tmp_path)
    EV.evolve_partition_spec(spark, root, ["day", "typ"])
    vdir = os.path.join(root, M._published_version(root))
    inodes = {}
    for r, dirs, files in os.walk(EV._layout_dir(vdir, 0)):
        dirs[:] = [d for d in dirs if not d.startswith("_")]
        for f in files:
            if f.endswith(".parquet"):
                inodes[f] = os.stat(os.path.join(r, f)).st_ino
    upd = spark.createDataFrame(
        [(1, "a", 10, 100.0)], "id long, typ string, day int, v double"
    )
    EV.evolved_merge(spark, root, upd, keys=["id"])
    vdir2 = os.path.join(root, M._published_version(root))
    after = {}
    for r, dirs, files in os.walk(EV._layout_dir(vdir2, 0)):
        dirs[:] = [d for d in dirs if not d.startswith("_")]
        for f in files:
            if f.endswith(".parquet"):
                after[f] = os.stat(os.path.join(r, f)).st_ino
    assert after == inodes  # same names, same inodes: pure hardlink carry


def test_update_of_active_row_and_resurrected_key(spark, tmp_path):
    root = _tbl(spark, tmp_path)
    EV.evolve_partition_spec(spark, root, ["day", "typ"])
    u1 = spark.createDataFrame(
        [(2, "a", 10, 20.0)], "id long, typ string, day int, v double"
    )
    EV.evolved_merge(spark, root, u1, keys=["id"])
    # id=2 now lives in the active layout; update it again.
    u2 = spark.createDataFrame(
        [(2, "a", 10, 30.0)], "id long, typ string, day int, v double"
    )
    EV.evolved_merge(spark, root, u2, keys=["id"])
    got = {r.id: r.v for r in EV.read_evolved(spark, root).collect()}
    assert got == {1: 1.0, 2: 30.0, 3: 3.0, 4: 4.0}
    # Exactly ONE row for the twice-updated key (no duplicate across
    # layouts, no suppression by its own delete history).
    n2 = EV.read_evolved(spark, root).filter(F.col("id") == 2).count()
    assert n2 == 1


def test_order_by_precedence_stale_replay_folds_away(spark, tmp_path):
    root = str(tmp_path / "tbl2")
    df = spark.createDataFrame(
        [(1, "a", 10, 5, 1.0)], "id long, typ string, day int, seq long, v double"
    )
    M.publish_overwrite(spark, root, df, partition_by=["day"])
    EV.evolve_partition_spec(spark, root, ["typ"])
    newer = spark.createDataFrame(
        [(1, "a", 10, 7, 7.0)], "id long, typ string, day int, seq long, v double"
    )
    EV.evolved_merge(spark, root, newer, keys=["id"], order_by=["seq"])
    stale = spark.createDataFrame(
        [(1, "a", 10, 6, 6.0)], "id long, typ string, day int, seq long, v double"
    )
    EV.evolved_merge(spark, root, stale, keys=["id"], order_by=["seq"])
    rows = EV.read_evolved(spark, root).collect()
    assert len(rows) == 1 and rows[0].seq == 7 and rows[0].v == 7.0


def test_second_evolution_and_three_layout_read(spark, tmp_path):
    root = _tbl(spark, tmp_path)
    EV.evolve_partition_spec(spark, root, ["typ"])
    u1 = spark.createDataFrame(
        [(5, "c", 12, 5.0)], "id long, typ string, day int, v double"
    )
    EV.evolved_merge(spark, root, u1, keys=["id"])
    EV.evolve_partition_spec(spark, root, ["day", "typ"])
    u2 = spark.createDataFrame(
        [(6, "d", 13, 6.0), (3, "b", 11, 33.0)],
        "id long, typ string, day int, v double",
    )
    EV.evolved_merge(spark, root, u2, keys=["id"])
    got = {r.id: r.v for r in EV.read_evolved(spark, root).collect()}
    assert got == {1: 1.0, 2: 2.0, 3: 33.0, 4: 4.0, 5: 5.0, 6: 6.0}
    vdir = os.path.join(root, M._published_version(root))
    assert [s["id"] for s in EV._specs(vdir)] == [0, 1, 2]


def test_compaction_folds_layouts_and_restores_plain_reads(spark, tmp_path):
    root = _tbl(spark, tmp_path)
    EV.evolve_partition_spec(spark, root, ["day", "typ"])
    upd = spark.createDataFrame(
        [(2, "a", 10, 20.0), (5, "c", 12, 5.0)],
        "id long, typ string, day int, v double",
    )
    EV.evolved_merge(spark, root, upd, keys=["id"])
    logical = _vals(spark, root)
    EV.compact_evolved(spark, root)
    vdir = os.path.join(root, M._published_version(root))
    assert EV._specs(vdir) is None  # collapsed to a plain snapshot
    assert not any(d.startswith("_layout") for d in os.listdir(vdir))
    plain = sorted(
        (r.id, r.typ, r.day, r.v)
        for r in M.read_published(spark, root).collect()
    )
    assert plain == logical
    # read_evolved keeps working through its plain fallback.
    assert _vals(spark, root) == logical


def test_merge_crash_before_commit_leaves_table_intact(spark, tmp_path):
    root = _tbl(spark, tmp_path)
    EV.evolve_partition_spec(spark, root, ["day", "typ"])
    before = _vals(spark, root)
    cur = M._published_version(root)
    bad = spark.createDataFrame(
        [(9, "z", 99, 9.0)], "id long, typ string, day int, v double"
    )
    real = M._commit_manifest

    def boom(*a, **k):
        raise RuntimeError("injected crash before manifest commit")

    M._commit_manifest = boom
    try:
        with pytest.raises(RuntimeError, match="injected"):
            EV.evolved_merge(spark, root, bad, keys=["id"])
    finally:
        M._commit_manifest = real
    assert M._published_version(root) == cur
    assert _vals(spark, root) == before


def _one_row(spark):
    return spark.createDataFrame(
        [(9, "z", 12, 9.0)], "id long, typ string, day int, v double"
    )


# writer name -> (evolve the table first?, the write under test)
_MANIFEST_COMMITS = {
    "publish_overwrite": (False, lambda s, r: M.publish_overwrite(
        s, r, _one_row(s), partition_by=["day"])),
    "merge_upsert_published": (False, lambda s, r: M.merge_upsert_published(
        s, r, _one_row(s), keys=["id"], partition_by=["day"])),
    "delete_where": (False, lambda s, r: M.delete_where(
        s, r, F.col("id") == 1, keys=["id"])),
    "evolve_partition_spec": (False, lambda s, r: EV.evolve_partition_spec(
        s, r, ["day", "typ"])),
    "evolved_merge": (True, lambda s, r: EV.evolved_merge(
        s, r, _one_row(s), keys=["id"])),
    "compact_evolved": (True, lambda s, r: EV.compact_evolved(s, r)),
    "compact_table": (False, lambda s, r: M.compact_table(s, r)),
}


@pytest.mark.parametrize("writer", sorted(_MANIFEST_COMMITS))
def test_every_manifest_commit_goes_through_commit_manifest(
    spark, tmp_path, monkeypatch, writer
):
    """Each manifest-root writer publishes through the one
    `merge._commit_manifest`: with it patched to crash, the writer
    raises and the published version and its rows stay as they were."""
    evolved, write = _MANIFEST_COMMITS[writer]
    root = _tbl(spark, tmp_path)
    if evolved:
        EV.evolve_partition_spec(spark, root, ["day", "typ"])
    cur = M._published_version(root)
    before = _vals(spark, root)

    class InjectedCommitCrash(RuntimeError):
        pass

    def boom(*a, **k):
        raise InjectedCommitCrash(writer)

    monkeypatch.setattr(M, "_commit_manifest", boom)
    with pytest.raises(InjectedCommitCrash):
        write(spark, root)
    assert M._published_version(root) == cur
    assert _vals(spark, root) == before


def test_underscore_partition_column_keeps_every_row(spark, tmp_path):
    """Spark reads `_col=v` partition directories as data, so an evolved
    table partitioned by an underscore-named column keeps the rows under
    them through merge carry, append, read and compaction."""
    schema = "id long, _src string, day int, v double"
    root = str(tmp_path / "tbl")
    base = [(i, "ab"[i % 2], 10 + i % 3, float(i)) for i in range(10)]
    M.publish_overwrite(
        spark, root, spark.createDataFrame(base, schema), partition_by=["day"]
    )
    EV.evolve_partition_spec(spark, root, ["_src"])
    EV.evolved_merge(
        spark, root,
        spark.createDataFrame([(20, "a", 10, 20.0), (21, "c", 11, 21.0)],
                              schema),
        keys=["id"],
    )
    # Touches _src=b only (id 3 moves out of the legacy layout): the
    # active layout's _src=a and _src=c partitions are carried.
    EV.evolved_merge(
        spark, root,
        spark.createDataFrame([(22, "b", 12, 22.0), (3, "b", 10, 30.0)],
                              schema),
        keys=["id"],
    )
    EV.evolved_append(
        spark, root, spark.createDataFrame([(23, "d", 11, 23.0)], schema)
    )
    expected = sorted(
        [r for r in base if r[0] != 3]
        + [(3, "b", 10, 30.0), (20, "a", 10, 20.0), (21, "c", 11, 21.0),
           (22, "b", 12, 22.0), (23, "d", 11, 23.0)]
    )

    def rows(df):
        return sorted((r.id, r._src, r.day, r.v) for r in df.collect())

    assert rows(EV.read_evolved(spark, root)) == expected
    EV.compact_evolved(spark, root)
    vdir = os.path.join(root, M._published_version(root))
    assert M._partition_spec(vdir) == ["_src"]
    assert rows(M.read_published(spark, root)) == expected


def test_vacuum_keeps_live_layout_files(spark, tmp_path):
    root = _tbl(spark, tmp_path)
    EV.evolve_partition_spec(spark, root, ["day", "typ"])
    upd = spark.createDataFrame(
        [(5, "c", 12, 5.0)], "id long, typ string, day int, v double"
    )
    EV.evolved_merge(spark, root, upd, keys=["id"])
    want = _vals(spark, root)
    removed = M.vacuum_versions(root)
    assert removed  # old versions actually deleted
    assert _vals(spark, root) == want  # hardlinked data survives


def test_evolve_rejects_unknown_column_and_same_spec(spark, tmp_path):
    root = _tbl(spark, tmp_path)
    listing = sorted(os.listdir(root))
    with pytest.raises(ValueError, match="not in table schema"):
        EV.evolve_partition_spec(spark, root, ["nope"])
    with pytest.raises(ValueError, match="already partitioned"):
        EV.evolve_partition_spec(spark, root, ["day"])
    # Both rejections happen BEFORE a version is claimed or a single
    # file is linked: no orphan staging dir, no burned version number.
    assert sorted(os.listdir(root)) == listing


def test_same_spec_rejected_pre_claim_on_evolved_table(spark, tmp_path):
    root = _tbl(spark, tmp_path)
    EV.evolve_partition_spec(spark, root, ["day", "typ"])
    listing = sorted(os.listdir(root))
    with pytest.raises(ValueError, match="already partitioned"):
        EV.evolve_partition_spec(spark, root, ["day", "typ"])
    assert sorted(os.listdir(root)) == listing


def test_merge_with_null_partition_value_passes_audit(spark, tmp_path):
    # Regression: the carried-rows audit must use the same null-SAFE
    # partition predicate as the fold's touched-partition prune. With a
    # null-unsafe anti-join, active-layout rows whose partition value
    # is NULL were counted in both `expected` and `carried`, failing a
    # CORRECT merge with the audit RuntimeError.
    root = str(tmp_path / "tblnull")
    df = spark.createDataFrame(
        [(1, None, 10, 1.0), (2, "a", 10, 2.0)],
        "id long, typ string, day int, v double",
    )
    M.publish_overwrite(spark, root, df, partition_by=["day"])
    EV.evolve_partition_spec(spark, root, ["typ"])
    u1 = spark.createDataFrame(
        [(1, None, 10, 10.0), (3, None, 11, 3.0)],
        "id long, typ string, day int, v double",
    )
    EV.evolved_merge(spark, root, u1, keys=["id"])  # NULLs enter active
    u2 = spark.createDataFrame(
        [(3, None, 11, 30.0), (4, "b", 12, 4.0)],
        "id long, typ string, day int, v double",
    )
    EV.evolved_merge(spark, root, u2, keys=["id"])  # audits NULL carry
    got = {r.id: r.v for r in EV.read_evolved(spark, root).collect()}
    assert got == {1: 10.0, 2: 2.0, 3: 30.0, 4: 4.0}


def test_evolved_merge_requires_spec_manifest(spark, tmp_path):
    root = _tbl(spark, tmp_path)
    upd = spark.createDataFrame(
        [(5, "c", 12, 5.0)], "id long, typ string, day int, v double"
    )
    with pytest.raises(ValueError, match="no partition-spec manifest"):
        EV.evolved_merge(spark, root, upd, keys=["id"])


def test_time_travel_and_table_changes_are_evolution_aware(spark, tmp_path):
    root = _tbl(spark, tmp_path)
    EV.evolve_partition_spec(spark, root, ["day", "typ"])
    v_evolved = M._published_version(root)
    upd = spark.createDataFrame(
        [(2, "a", 10, 20.0), (5, "c", 12, 5.0)],
        "id long, typ string, day int, v double",
    )
    EV.evolved_merge(spark, root, upd, keys=["id"])
    # read_version (time travel) sees the evolved snapshot's full
    # content, not an empty underscore-dir read.
    back = sorted(
        (r.id, r.v) for r in M.read_version(spark, root, v_evolved).collect()
    )
    assert back == [(1, 1.0), (2, 2.0), (3, 3.0), (4, 4.0)]
    # table_changes diffs across the evolved merge correctly.
    ch = M.table_changes(
        spark, root, v_evolved, M._published_version(root), keys=["id"]
    )
    kinds = {(r.id, r.change_type) for r in ch.collect()}
    assert (5, "insert") in kinds
    assert (2, "update") in kinds
    assert (1, "unchanged") in kinds


def test_order_by_newer_legacy_row_beats_stale_batch(spark, tmp_path):
    """Regression: a stale replay whose key still lives in a LEGACY
    layout must lose to the newer legacy row — the legacy hit joins
    the precedence fold (it is not blindly superseded), and the
    surviving (legacy-version) row migrates to the active layout."""
    root = str(tmp_path / "tbl3")
    df = spark.createDataFrame(
        [(1, "a", 10, 9, 9.0), (2, "b", 11, 1, 1.0)],
        "id long, typ string, day int, seq long, v double",
    )
    M.publish_overwrite(spark, root, df, partition_by=["day"])
    EV.evolve_partition_spec(spark, root, ["typ"])
    stale = spark.createDataFrame(
        [(1, "a", 10, 3, 3.0)], "id long, typ string, day int, seq long, v double"
    )
    EV.evolved_merge(spark, root, stale, keys=["id"], order_by=["seq"])
    rows = {r.id: (r.seq, r.v) for r in EV.read_evolved(spark, root).collect()}
    assert rows == {1: (9, 9.0), 2: (1, 1.0)}
    # The surviving legacy-version row now lives in the ACTIVE layout
    # and its legacy copy is suppressed (no double-count).
    vdir = os.path.join(root, M._published_version(root))
    l1 = EV._read_layout(spark, vdir, 1, M._sidecar_schema(vdir, required=True))
    assert {r.id for r in l1.collect()} == {1}
    assert EV.read_evolved(spark, root).filter(F.col("id") == 1).count() == 1


def test_evolved_append_fast_path(spark, tmp_path):
    root = _tbl(spark, tmp_path)
    EV.evolve_partition_spec(spark, root, ["day", "typ"])
    # Two appends into the SAME partition: both batches' rows survive
    # beside each other (append never rewrites or dedups).
    a1 = spark.createDataFrame(
        [(10, "a", 10, 1.5)], "id long, typ string, day int, v double"
    )
    a2 = spark.createDataFrame(
        [(11, "a", 10, 2.5), (12, "c", 12, 3.5)],
        "id long, typ string, day int, v double",
    )
    vdir0 = os.path.join(root, M._published_version(root))
    inodes0 = {
        f: os.stat(os.path.join(r, f)).st_ino
        for r, _d, fs in os.walk(EV._layout_dir(vdir0, 0))
        for f in fs
        if f.endswith(".parquet")
    }
    EV.evolved_append(spark, root, a1)
    EV.evolved_append(spark, root, a2)
    got = {r.id: r.v for r in EV.read_evolved(spark, root).collect()}
    assert got == {1: 1.0, 2: 2.0, 3: 3.0, 4: 4.0, 10: 1.5, 11: 2.5, 12: 3.5}
    # Legacy layout untouched (same inodes) and deletes-free.
    vdir = os.path.join(root, M._published_version(root))
    inodes = {
        f: os.stat(os.path.join(r, f)).st_ino
        for r, _d, fs in os.walk(EV._layout_dir(vdir, 0))
        for f in fs
        if f.endswith(".parquet")
    }
    assert inodes == inodes0
    # compact_table on an evolved root routes to compact_evolved: the
    # snapshot collapses to a plain hive tree under the ACTIVE spec.
    M.compact_table(spark, root)
    vdir2 = os.path.join(root, M._published_version(root))
    assert EV._specs(vdir2) is None
    assert any(d.startswith("day=") for d in os.listdir(vdir2))
    plain = {r.id: r.v for r in M.read_published(spark, root).collect()}
    assert plain == got


def test_evolved_append_then_merge_deletes_appended_key(spark, tmp_path):
    """Append then upsert the same key: the merged row wins once even
    though the appended copy sits in the active layout already."""
    root = _tbl(spark, tmp_path)
    EV.evolve_partition_spec(spark, root, ["typ"])
    EV.evolved_append(
        spark,
        root,
        spark.createDataFrame(
            [(20, "a", 10, 1.0)], "id long, typ string, day int, v double"
        ),
    )
    EV.evolved_merge(
        spark,
        root,
        spark.createDataFrame(
            [(20, "a", 10, 9.0)], "id long, typ string, day int, v double"
        ),
        keys=["id"],
    )
    rows = EV.read_evolved(spark, root).filter(F.col("id") == 20).collect()
    assert len(rows) == 1 and rows[0].v == 9.0


def test_merge_into_unpartitioned_active_spec(spark, tmp_path):
    """Evolving a hive table to an UNPARTITIONED spec (de-partitioning
    — also a real Iceberg operation) must merge full-layout instead of
    crashing on an empty touched-partition prune."""
    root = _tbl(spark, tmp_path)
    EV.evolve_partition_spec(spark, root, [])
    upd = spark.createDataFrame(
        [(2, "a", 10, 20.0), (5, "c", 12, 5.0)],
        "id long, typ string, day int, v double",
    )
    EV.evolved_merge(spark, root, upd, keys=["id"])
    EV.evolved_merge(spark, root, upd, keys=["id"])  # replay idempotent
    got = {r.id: r.v for r in EV.read_evolved(spark, root).collect()}
    assert got == {1: 1.0, 2: 20.0, 3: 3.0, 4: 4.0, 5: 5.0}
