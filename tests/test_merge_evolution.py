"""P13 COALESCE-on-merge, S8 guarded schema evolution."""

import pytest

from myserver_datawarehouse_spark.operators import merge as M


def batch(spark, rows, ddl="id long, v string, kept string"):
    return spark.createDataFrame(rows, ddl)


def rows_of(spark, path):
    return {tuple(r) for r in spark.read.parquet(path).collect()}


def test_coalesce_merge_keeps_existing_on_null(spark, tmp_path):
    p = str(tmp_path / "t")
    M.merge_upsert(spark, p, batch(spark, [(1, "a", "orig"), (2, "b", "keep2")]),
                   keys=["id"])
    M.merge_upsert_coalesce(
        spark, p, batch(spark, [(1, "A", None), (3, "c", "new3")]),
        keys=["id"], keep_cols=["kept"],
    )
    assert rows_of(spark, p) == {
        (1, "A", "orig"),   # v updated, kept coalesced from existing
        (2, "b", "keep2"),  # untouched row survives
        (3, "c", "new3"),   # new key inserts
    }


def test_coalesce_merge_non_keep_col_takes_update_null(spark, tmp_path):
    p = str(tmp_path / "t")
    M.merge_upsert(spark, p, batch(spark, [(1, "a", "x")]), keys=["id"])
    M.merge_upsert_coalesce(
        spark, p, batch(spark, [(1, None, None)]), keys=["id"], keep_cols=["kept"]
    )
    assert rows_of(spark, p) == {(1, None, "x")}  # v is NOT a keep col


def test_ensure_columns_adds_missing_once(spark, tmp_path):
    p = str(tmp_path / "t")
    M.merge_upsert(spark, p, batch(spark, [(1, "a", "x")]), keys=["id"])
    added = M.ensure_columns(spark, p, {"color": "string", "v": "string"})
    assert added == ["color"]
    df = spark.read.parquet(p)
    assert dict(df.dtypes)["color"] == "string"
    assert [r.color for r in df.collect()] == [None]
    assert M.ensure_columns(spark, p, {"color": "string"}) == []  # idempotent


def test_ensure_columns_requires_table(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        M.ensure_columns(spark, str(tmp_path / "nope"), {"x": "int"})


def test_schema_sidecar_round_trip_and_missing(tmp_path):
    """merge.py writes and reads the `_SCHEMA.json` sidecar for plain and
    evolved snapshots: a directory without one reads as None (the plain
    reader then infers), or fails loudly where it is required."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    d = str(tmp_path)
    assert M._sidecar_schema(d) is None
    with pytest.raises(FileNotFoundError):
        M._sidecar_schema(d, required=True)
    schema = StructType(
        [StructField("id", LongType()), StructField("v", StringType())]
    )
    M._write_schema_sidecar(d, schema)
    assert M._sidecar_schema(d) == schema
    assert M._sidecar_schema(d, required=True) == schema
