"""`sources.tables.load_table` takes each table's schema from a data
file's parquet footer (`footer_schema`): the schema Spark's inference
returns, read without the one-task inference job."""

import os
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT / "tools"))
sys.path.insert(0, str(ROOT / "perfbench"))

import datagen  # noqa: E402
from plan_lint import SF  # noqa: E402  (the sf0.001 TESTDATA directory)

from myserver_datawarehouse_spark.sources.tables import (  # noqa: E402
    TESTDATA_TABLES,
    footer_schema,
    load_table,
)


def _jobs(spark, action):
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    lo = int(dag.nextJobId())
    out = action()
    return int(dag.nextJobId()) - lo, out


def _assert_loads_like_inference(spark, sf_dir, name):
    jobs, df = _jobs(spark, lambda: load_table(spark, sf_dir, name))
    assert jobs == 0, name
    path = os.path.join(sf_dir, f"{name}.parquet")
    read = spark.read.schema(footer_schema(spark, path)).parquet(path)
    assert read.schema == spark.read.parquet(path).schema, name
    return df


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_testdata_tables_load_with_the_inferred_schema_and_no_job(spark, sf):
    sf_dir = os.path.join(os.path.dirname(SF), sf)
    for name in TESTDATA_TABLES:
        _assert_loads_like_inference(spark, sf_dir, name)


def test_generated_events_load_with_the_inferred_schema(spark, tmp_path):
    """The benchmark's events table (microsecond timestamps without a
    zone, which Spark infers as TIMESTAMP_NTZ) and a Spark-written flat
    directory of part files load as inference reads them; a partitioned
    directory is left to inference."""
    datagen.generate(str(tmp_path), seed=3, sf=0.001)
    events = _assert_loads_like_inference(spark, str(tmp_path), "events")
    assert dict(events.dtypes)["ts"] == "timestamp"

    flat = str(tmp_path / "flat.parquet")
    spark.range(30).selectExpr(
        "id", "CAST(id AS DECIMAL(12, 2)) AS amount", "DATE_FROM_UNIX_DATE(CAST(id AS INT)) AS d"
    ).repartition(3).write.parquet(flat)
    _assert_loads_like_inference(spark, str(tmp_path), "flat")

    parted = str(tmp_path / "parted.parquet")
    spark.range(4).selectExpr("id", "id % 2 AS p").write.partitionBy("p").parquet(
        parted
    )
    assert footer_schema(spark, parted) is None
    assert load_table(spark, str(tmp_path), "parted").schema == (
        spark.read.parquet(parted).schema
    )
