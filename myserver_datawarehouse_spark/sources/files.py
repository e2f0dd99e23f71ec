"""Delimited / JSON-lines file sources with corrupt-record quarantine
(S1 family, SURVEY.md §2.1).

The reference ingests only from Postgres and Sheets; a replacement engine
additionally needs the raw-file landing path every warehouse grows:
schema-ON-READ with explicit StructType (never inferSchema — an
inference pass is a second full scan at 100 TB, and a schema drift
becomes a silent type change instead of a quarantined row), PERMISSIVE
parsing, and a deterministic good/bad split so malformed input lands in
a quarantine table instead of killing the job (the die-loudly
alternative is `mode="FAILFAST"`, one option away).

Scale: both readers are plain distributed file scans — splittable for
CSV, line-splittable for JSONL — and the quarantine split persists the
parsed scan once so the good and bad outputs don't each re-parse the
input (see split_quarantine for the why)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

CORRUPT_COL = "_corrupt_record"


def with_corrupt_column(schema: StructType) -> StructType:
    """The user schema + the corrupt-record capture column. Spark only
    RETAINS the raw text of unparseable rows when the column is declared
    in the read schema."""
    if any(f.name == CORRUPT_COL for f in schema.fields):
        return schema
    return StructType([*schema.fields, StructField(CORRUPT_COL, StringType())])


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType,
    mode: str = "PERMISSIVE",
    options: dict[str, str] | None = None,
) -> DataFrame:
    """JSON-lines read with explicit schema; malformed lines surface as
    rows whose data columns are NULL and whose `_corrupt_record` holds
    the raw line. `options` passes extra reader options through (e.g.
    timestampFormat for sub-millisecond round-trips)."""
    reader = (
        spark.read.schema(with_corrupt_column(schema))
        .option("mode", mode)
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
    )
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    return reader.json(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType,
    mode: str = "PERMISSIVE",
    header: bool = True,
    delimiter: str = ",",
    options: dict[str, str] | None = None,
) -> DataFrame:
    """CSV read with explicit schema; wrong-arity or untypeable rows are
    captured in `_corrupt_record` rather than dropped or fatal.
    `options` passes extra reader options through (e.g.
    timestampFormat)."""
    reader = (
        spark.read.schema(with_corrupt_column(schema))
        .option("mode", mode)
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .option("header", str(header).lower())
        .option("sep", delimiter)
    )
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    return reader.csv(path)


def split_quarantine(
    df: DataFrame, persist: bool = True
) -> tuple[DataFrame, DataFrame]:
    """(good, bad): good rows with the capture column dropped; bad rows
    with the raw text plus whatever typed columns survived the partial
    parse (JSON keeps the parseable fields; CSV pads missing ones).

    ``persist=True`` (default) persists the parsed scan before
    splitting, for two reasons: Spark DISALLOWS queries whose projection
    reduces to only the internal corrupt column on a raw file scan
    (e.g. ``bad.count()`` would throw AnalysisException), and the
    persist makes good+bad one parse pass instead of two. At very large
    scale prefer ``persist=False`` and write both sides from one
    foreachBatch/job instead of materializing the scan."""
    if persist:
        df = df.persist()
    good = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = df.filter(F.col(CORRUPT_COL).isNotNull())
    return good, bad


def read_orc(spark: SparkSession, path: str, schema: StructType | None = None) -> DataFrame:
    """ORC scan (Spark-native, no extra packages). Columnar self-
    describing formats have no quarantine path by design — a corrupt
    stripe is a loud task failure, not a salvageable row; the
    PERMISSIVE/_corrupt_record machinery above applies to the text
    formats only. Pass `schema` to pin schema-on-read (pruned columns
    and type expectations survive writer drift); omit to trust footers.
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    compression: str = "zstd",
) -> None:
    """ORC write with zstd (Spark-native). Same layout contract as the
    parquet sinks in operators/merge.py: explicit mode, optional hive
    partitioning for partition-pruned downstream scans."""
    w = df.write.mode(mode).option("compression", compression)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


BLOOM_SIDECAR = "_blooms"


def _bloom_dir(table_dir: str, column: str) -> str:
    import os

    return os.path.join(table_dir, BLOOM_SIDECAR, column)


def _is_data_entry(name: str) -> bool:
    """The one walk rule for snapshot trees, Spark's own: dot- and
    underscore-named entries are markers and sidecars (`_SUCCESS`,
    `_deletes`, `_blooms`), except hive partition directories, whose
    column may itself start with an underscore (`_col=v`)."""
    return not name.startswith(".") and (
        "=" in name or not name.startswith("_")
    )


def _data_files_relative(table_dir: str) -> list[str]:
    """Relative paths of every data file under a snapshot dir, sidecar
    trees (`_blooms`, `_deletes`, dot-dirs) excluded, while `_layout-*`
    spec subtrees (partition evolution) are data and are descended
    into."""
    import os

    out: list[str] = []
    for root, dirs, files in os.walk(table_dir):
        dirs[:] = [
            d for d in dirs if d.startswith("_layout-") or _is_data_entry(d)
        ]
        for f in files:
            if not f.startswith((".", "_")):
                out.append(os.path.relpath(os.path.join(root, f), table_dir))
    return sorted(out)


def _relative_path_col(table_dir: str):
    """`input_file_name()` → path relative to `table_dir`, as a column.
    Computed by LENGTH, not regex, so no table_dir character needs
    escaping; `input_file_name` returns `file:///abs/path` in local
    mode and `scheme://abs/path` generally, so normalize the scheme
    prefix first."""
    import os

    from pyspark.sql import functions as F

    norm = os.path.abspath(table_dir)
    absolute = F.regexp_replace(F.input_file_name(), r"^file:/+", "/")
    return F.substring(absolute, len(norm) + 2, 1 << 30)


def _sidecar_paths_local(sidecar_dir: str) -> set:
    """The `path` column of a bloom sidecar, read DRIVER-side via
    parquet footers (pyarrow). The sidecar is manifest-scale by design
    (one row per data file) and every consumer of this set collects it
    to the driver anyway — reading it without a Spark action removes
    one driver-blocking job per commit (the guide's measure-first
    finding for the writer tier: per-action fixed cost, not task time,
    dominates these paths). The bloom bitsets themselves are NOT read:
    column projection keeps this an O(files) metadata read."""
    import os

    import pyarrow.parquet as pq

    out: set = set()
    for rel in _data_files_relative(sidecar_dir):
        out.update(
            pq.read_table(
                os.path.join(sidecar_dir, rel), columns=["path"]
            )["path"].to_pylist()
        )
    return out


def _bloom_frame(
    spark: SparkSession, table_dir: str, column: str, bits: int, paths
):
    """(rel_path, bloom) rows for the given absolute data-file paths:
    bucket = xxhash64(key) mod bits JVM-side, then one vectorized
    applyInPandas kernel per file folds its buckets into a bits/8-byte
    bitset (numpy bitwise_or.at). Distributed end to end — no bloom
    crosses the driver."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    bucket = F.pmod(F.xxhash64(F.col(column)), F.lit(bits))

    def build_bloom(pdf: pd.DataFrame) -> pd.DataFrame:
        bs = np.zeros(bits // 8, dtype=np.uint8)
        b = pdf["bucket"].to_numpy()
        np.bitwise_or.at(bs, b // 8, (1 << (b % 8)).astype(np.uint8))
        return pd.DataFrame(
            {"path": [pdf["path"].iloc[0]], "bloom": [bs.tobytes()]}
        )

    return (
        spark.read.parquet(*paths)
        .select(
            _relative_path_col(table_dir).alias("path"),
            bucket.alias("bucket"),
        )
        .groupBy("path")
        .applyInPandas(build_bloom, "path string, bloom binary")
    )


def write_bloom_sidecar(
    spark: SparkSession, table_dir: str, column: str, bits: int = 65536
) -> str:
    """Persist per-file point-lookup bloom filters as a WRITE-COMMIT
    sidecar (`table_dir/_blooms/<column>/` — underscore-prefixed, so
    plain table reads never see it), the bloom twin of `file_stats`
    zone maps and the same amortization contract as the equality-delete
    sidecars: the table writer pays one extra pass at commit, every
    later point lookup prunes from the manifest-scale sidecar instead
    of rescanning the table (or — the shape this replaces — rebuilding
    blooms per query and collecting them to the driver).

    The sidecar rows key on the file path RELATIVE to the snapshot dir,
    so a copy-on-write merge that hardlink-carries untouched partitions
    into the next version (operators/merge._link_untouched) can carry
    their bloom rows verbatim and rebuild blooms ONLY for rewritten
    files — O(touched partitions) per commit, not O(table); see
    carry_bloom_sidecar. `_META.json` records the key column, width,
    and the column's Spark type: xxhash64 is TYPE-sensitive, so the
    probe must hash with the exact written type or bucket ids diverge
    and the bloom silently rejects files that do contain the key."""
    import json
    import os

    if os.path.isfile(os.path.join(table_dir, "_SPECS.json")):
        # The plain parquet scan below cannot see data under the
        # underscore-hidden _layout-* subtrees of an evolved snapshot
        # and would die with an opaque schema-inference error. Guard
        # HERE so every caller (CLI, publish path, user code) gets the
        # actionable message.
        raise ValueError(
            f"{table_dir} is an evolved multi-layout snapshot; run "
            "compact_evolved (CLI: 'table compact') first — evolved "
            "merges/appends then maintain the rebuilt sidecar "
            "incrementally"
        )
    scan = spark.read.parquet(table_dir)
    col_type = scan.schema[column].dataType.simpleString()
    sidecar = _bloom_dir(table_dir, column)
    _bloom_frame(spark, table_dir, column, bits, [table_dir]).write.mode(
        "overwrite"
    ).parquet(sidecar)
    _assert_sidecar_paths(
        spark, sidecar, set(_data_files_relative(table_dir))
    )
    with open(os.path.join(sidecar, "_META.json"), "w") as fh:
        json.dump({"column": column, "bits": bits, "type": col_type}, fh)
    return sidecar


def _assert_sidecar_paths(
    spark: SparkSession, sidecar: str, data_files: set
) -> None:
    """Write-time guard for the path-slicing contract: every sidecar
    row path must be a real data file of the snapshot. The relative
    paths come from LENGTH-slicing `input_file_name()` URIs
    (_relative_path_col), which assumes the URI's path is byte-equal to
    `os.path.abspath(table_dir)` after scheme-stripping — a symlinked
    table dir or characters Spark percent-encodes in file URIs (a
    space -> %20) silently break that slice. Downstream that breakage
    is SAFE but degenerate (files look uncovered -> always candidates;
    incremental carry degrades to a full rebuild; coverage flags flip
    false), so fail at WRITE time with a diagnosis instead — one
    manifest-scale path collect per commit, blooms never move.

    The check is SUBSET, not equality: every mis-slicing failure mode
    produces sidecar paths that are NOT data files (garbage suffixes /
    percent-encoded variants), while the reverse gap — a data file
    with no bloom row — is legitimately possible (a zero-row part
    file never reaches the per-file fold; an evolved partition-column
    bloom carries partially) and already degrades safely to
    always-candidate under bloom_prune_files."""
    written = _sidecar_paths_local(sidecar)
    if not written <= data_files:
        sample_w = sorted(written - data_files)[:3]
        raise ValueError(
            f"bloom sidecar {sidecar} contains paths that are not data "
            f"files of the snapshot (e.g. {sample_w}). The table path "
            "likely traverses a symlink or contains characters Spark "
            "percent-encodes in file URIs; pass the canonical real "
            "path (os.path.realpath) instead."
        )


def bloom_sidecar_columns(table_dir: str) -> list[str]:
    """Columns with a committed bloom sidecar under this snapshot."""
    import os

    root = os.path.join(table_dir, BLOOM_SIDECAR)
    if not os.path.isdir(root):
        return []
    return sorted(
        d
        for d in os.listdir(root)
        if os.path.isfile(os.path.join(root, d, "_META.json"))
    )


def carry_bloom_sidecar(
    spark: SparkSession, current_dir: str, staged_dir: str, column: str
) -> str:
    """Incremental bloom maintenance for the copy-on-write merge path:
    bloom rows of files the merge carried by hardlink (same RELATIVE
    path, same bytes, same inode) are copied from the current
    snapshot's sidecar verbatim; only files NEW in the staged snapshot
    get a fresh distributed bloom pass. Commit cost stays O(rewritten
    partitions), matching the data move itself — the property that
    makes per-file blooms affordable as a standing manifest stat on a
    long-lived 100 TB table."""
    import json
    import os

    src = _bloom_dir(current_dir, column)
    with open(os.path.join(src, "_META.json")) as fh:
        meta = json.load(fh)
    bits = int(meta["bits"])
    staged_files = _data_files_relative(staged_dir)
    old = spark.read.parquet(src)
    staged_set = set(staged_files)
    # One manifest-scale footer read of the old PATHS (driver-side, no
    # Spark action) drives both the carried filter and the new-file
    # diff; the bloom bitsets themselves never reach the driver.
    old_paths = _sidecar_paths_local(src)
    covered = old_paths & staged_set
    carried = (
        old.filter(F.col("path").isin(*covered))
        if covered
        else old.filter(F.lit(False))
    )
    new_files = [f for f in staged_files if f not in covered]
    frames = [carried]
    if new_files:
        frames.append(
            _bloom_frame(
                spark,
                staged_dir,
                column,
                bits,
                [os.path.join(staged_dir, f) for f in new_files],
            )
        )
    out = frames[0] if len(frames) == 1 else frames[0].unionByName(frames[1])
    dst = _bloom_dir(staged_dir, column)
    out.write.mode("overwrite").parquet(dst)
    # A row whose path is NOT a staged data file means the fresh pass
    # mis-sliced its URIs — fail loudly at write time.
    _assert_sidecar_paths(spark, dst, staged_set)
    with open(os.path.join(dst, "_META.json"), "w") as fh:
        json.dump(meta, fh)
    return dst


def bloom_prune_files(
    spark: SparkSession, table_dir: str, column: str, keys
) -> tuple[list[str], int]:
    """Prune a point lookup against the committed bloom sidecar:
    returns (candidate ABSOLUTE file paths, total data files). The bit
    tests run EXECUTOR-side over the sidecar scan (a few codegen'd
    byte-AND expressions per probe key); the driver receives only the
    candidate path strings, manifest-scale, exactly what a table
    format's coordinator reads. Two rules keep the zero-false-negative
    contract under EVERY lifecycle state:

    - the probe hashes with the column type recorded at write time
      (xxhash64 is type-sensitive: xxhash64("5") != xxhash64(5));
      probe keys are accepted in any lossless textual form and CAST to
      that type, so CLI string inputs probe correctly for int, double
      and string columns alike (a key that fails the cast raises
      instead of silently hashing NULL);
    - data files WITHOUT a bloom row (written after the sidecar by a
      path that cannot maintain it — e.g. an evolved layout whose
      PARTITION column is the bloom column, or a sidecar written
      before a legacy maintenance run) are ALWAYS candidates — a
      stale or partial sidecar degrades to less pruning, never to
      wrong results. Evolved merges/appends now maintain the sidecar
      incrementally (operators/evolution._maintain_root_blooms), so
      coverage survives evolution rather than decaying.

    DELETE INTERACTION: the returned paths prune FILES only — they do
    not apply the snapshot's merge-on-read `_deletes` sidecar. A
    caller that `spark.read.parquet(*keep)`s directly bypasses delete
    application and can resurface logically deleted rows (delete_where
    carries the bloom sidecar verbatim — a deleted key still probes
    positive). Pair pruning with the snapshot's anti-join (use
    read_pruned, which does both), exactly how table-format
    coordinators pair file pruning with delete files."""
    import json
    import os

    from pyspark.sql import functions as F

    sidecar = _bloom_dir(table_dir, column)
    with open(os.path.join(sidecar, "_META.json")) as fh:
        meta = json.load(fh)
    if meta["column"] != column:
        raise ValueError(
            f"bloom sidecar covers {meta['column']!r}, probe on {column!r}"
        )
    bits = int(meta["bits"])
    data_files = _data_files_relative(table_dir)
    total = len(data_files)
    keys = list(keys)
    if not keys:
        return [], total
    bucket = F.pmod(F.xxhash64(F.col(column)), F.lit(bits))
    typed = (
        spark.createDataFrame(
            [(str(k),) for k in keys], f"{column} string"
        )
        # try_cast, not cast: under ANSI mode a malformed key would
        # throw a raw JVM NumberFormatException mid-collect; NULL +
        # the explicit raise below is the same failure, diagnosable.
        .select(
            F.expr(f"try_cast(`{column}` AS {meta['type']})").alias(column)
        )
    )
    # ONE collect for both the cast check and the bucket ids (guide
    # §1.2: these are driver-blocking jobs over a probe-count-
    # sized local frame; the former null-check count + bucket collect
    # paid two).
    probe_rows = typed.select(
        F.col(column).isNull().alias("bad"), bucket.alias("bucket")
    ).collect()
    if any(r["bad"] for r in probe_rows):
        raise ValueError(
            f"probe keys {keys!r} do not all cast to the sidecar's "
            f"column type {meta['type']!r}"
        )
    probe_buckets = [int(r["bucket"]) for r in probe_rows]

    def bit_set(b: int):
        byte = F.conv(
            F.hex(F.substring(F.col("bloom"), b // 8 + 1, 1)), 16, 10
        ).cast("int")
        return byte.bitwiseAND(F.lit(1 << (b % 8))) != 0

    admits = bit_set(probe_buckets[0])
    for b in probe_buckets[1:]:
        admits = admits | bit_set(b)
    blooms = spark.read.parquet(sidecar)
    # ONE sidecar scan for both the coverage set and the admitted set:
    # the bit tests stay executor-side (codegen'd byte-ANDs over
    # the bloom column — bitsets never reach the driver); only the
    # manifest-scale (path, admitted) rows collect, where the previous
    # form paid two separate collect jobs over the same scan.
    flags = blooms.select("path", admits.alias("adm")).collect()
    covered = {r["path"] for r in flags}
    admitted = {r["path"] for r in flags if r["adm"]}
    keep = [
        os.path.join(table_dir, f)
        for f in data_files
        if f in admitted or f not in covered
    ]
    return keep, total


def read_pruned(
    spark: SparkSession, table_dir: str, column: str, keys
) -> DataFrame:
    """Bloom-pruned point-lookup READ with merge-on-read semantics:
    `bloom_prune_files` picks candidate files, the candidates are read
    with `basePath` (so hive partition columns survive a leaf-file
    read), and the snapshot's equality-delete sidecars are applied —
    the pairing a table-format coordinator always does (file pruning
    never bypasses delete files), packaged so callers can't get it
    wrong by `spark.read.parquet(*keep)`-ing directly and resurfacing
    logically deleted rows. Evolved snapshots group candidates per
    `_layout-*` subtree (each layout carries its own `_deletes`) and
    union under the snapshot schema. Bloom false positives mean rows
    for OTHER keys may appear: filter to the probed keys downstream
    (kept here so the helper composes with range probes too)."""
    keep, _total = bloom_prune_files(spark, table_dir, column, keys)
    return read_pruned_files(spark, table_dir, keep)


def read_pruned_files(
    spark: SparkSession, table_dir: str, keep: list
) -> DataFrame:
    """The delete-aware read half of `read_pruned`, for a caller that
    already holds the pruned candidate list from its own
    `bloom_prune_files` call (the bloom audits probe once for their
    file-skipping flags; through read_pruned they would pay a SECOND
    full prune for the same keys). Pairs the candidate read
    with each layout's `_deletes` anti-join exactly as read_pruned."""
    import functools
    import os

    from pyspark.sql import functions as F

    from myserver_datawarehouse_spark.operators import merge as _MG

    if not keep:
        return _MG._read_snapshot(spark, table_dir).filter(F.lit(False))
    if os.path.isfile(os.path.join(table_dir, "_SPECS.json")):
        schema = _MG._sidecar_schema(table_dir, required=True)
        by_layout: dict[str, list[str]] = {}
        for p in keep:
            rel = os.path.relpath(p, table_dir)
            by_layout.setdefault(rel.split(os.sep)[0], []).append(p)
        frames = []
        for layout, paths in sorted(by_layout.items()):
            ldir = os.path.join(table_dir, layout)
            df = _MG._apply_deletes(
                spark,
                ldir,
                spark.read.option("basePath", ldir).parquet(*paths),
            )
            frames.append(
                df.select(
                    *[
                        F.col(f.name).cast(f.dataType).alias(f.name)
                        for f in schema.fields
                    ]
                )
            )
        return functools.reduce(lambda a, b: a.unionByName(b), frames)
    df = spark.read.option("basePath", table_dir).parquet(*keep)
    return _MG._apply_deletes(spark, table_dir, df)


def file_stats(spark: SparkSession, path: str, column: str) -> DataFrame:
    """Zone map for a parquet table: per-file min/max/rows for `column`,
    computed in one distributed aggregate over the table. This is the
    stats table a lakehouse manifest (Delta `stats`, Iceberg
    `lower_bounds`/`upper_bounds`) records at write commit; on plain
    parquet it costs one scan and amortizes across every pruned read
    (see plans/relational.file_skipping_scan_audit for the pruning
    consumer, and the CLI `table stats` surface)."""
    from pyspark.sql import functions as F

    return (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("path"))
        .agg(
            F.min(column).alias("lo"),
            F.max(column).alias("hi"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("lo", "path")
    )
