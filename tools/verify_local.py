"""Pre-flight differential harness: run every registry query on Spark AND
its oracle on DuckDB, compare row count / column names / values, mimicking
the driver's CORRECTNESS gate (order-insensitive, columns sorted by name).

Usage: python tools/verify_local.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

import duckdb

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from myserver_datawarehouse_spark import registry
from myserver_datawarehouse_spark.session import get_spark
from myserver_datawarehouse_spark.sources.tables import TESTDATA_TABLES


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _norm_cell(v):
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        if math.isnan(v):
            return "<NaN>"
        return repr(v)  # full precision — exact match required
    # pandas NaT / numpy nan objects (e.g. NULL timestamps through
    # toPandas) — normalize like SQL NULL so both engines agree.
    try:
        import pandas as pd

        if pd.isna(v):
            return "<NULL>"
    except (TypeError, ValueError):
        pass
    return str(v)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return [cols[i] for i in order], out


# DuckDB output types that silently become float64 through the pandas /
# arrow fetch the external driver uses (SUM(INTEGER) -> HUGEINT -> 4985.0
# vs Spark's 4985) makes the driver's exact hash compare fail. Any
# oracle emitting one of these is a bug regardless of what values show.
ORACLE_BANNED_TYPES = ("HUGEINT", "UHUGEINT")

_SPARK_INT_TYPES = ("tinyint", "smallint", "int", "bigint")


def compare(name: str, spark_df, con, sql: str) -> list[str]:
    problems: list[str] = []
    pdf = spark_df.toPandas()
    # Lint: an integer column that arrives as float64 in pandas means
    # NULLs forced a dtype promotion — the driver would hash "4985.0".
    for f in spark_df.schema.fields:
        if f.dataType.simpleString() in _SPARK_INT_TYPES and str(
            pdf[f.name].dtype
        ).startswith("float"):
            problems.append(
                f"LINT: spark column {f.name} is {f.dataType.simpleString()} "
                f"but {pdf[f.name].dtype} after toPandas (NULLs present) — "
                "hash would compare '4985.0' vs '4985'"
            )
    s_cols = list(pdf.columns)
    s_rows = [tuple(r) for r in pdf.itertuples(index=False, name=None)]
    rel = con.sql(sql)
    o_cols = list(rel.columns)
    for cname, ctype in zip(o_cols, rel.types):
        t = str(ctype).upper()
        if any(b in t for b in ORACLE_BANNED_TYPES):
            problems.append(
                f"LINT: oracle column {cname} has DuckDB type {t} — becomes "
                "float64 through the driver's pandas fetch; CAST(... AS "
                "BIGINT) it in the oracle SQL"
            )
    # Lints do NOT short-circuit: a dtype lint on one column must not mask
    # a genuine value mismatch elsewhere in the same query, so always fall
    # through to the row-count and value comparison and report both.
    # Fetch the oracle the way the driver does: through pandas/arrow
    # (.df()), NOT .fetchall() — .fetchall() yields native Python ints
    # that hide the HUGEINT->float64 drift the driver sees.
    odf = rel.df()
    o_rows = [tuple(r) for r in odf.itertuples(index=False, name=None)]

    if sorted(s_cols) != sorted(o_cols):
        problems.append(f"columns differ: spark={sorted(s_cols)} oracle={sorted(o_cols)}")
        return problems
    if len(s_rows) != len(o_rows):
        problems.append(f"row count differs: spark={len(s_rows)} oracle={len(o_rows)}")

    _, sn = norm_rows(s_cols, s_rows)
    _, on = norm_rows(o_cols, o_rows)
    mism = 0
    for a, b in zip(sn, on):
        if a != b:
            mism += 1
            if mism <= 3:
                problems.append(f"row diff:\n  spark : {a}\n  oracle: {b}")
    if mism:
        problems.append(f"total mismatched rows: {mism}/{len(sn)}")
    return problems


def run_scale(spark, sf_dir: str, only: set[str]) -> tuple[int, list[str]]:
    con = duck_connect(sf_dir)
    failed = []
    ran = 0
    for spec in registry.specs():
        if only and spec.name not in only:
            continue
        ran += 1
        try:
            df = spec.spark(spark, sf_dir)
            if spec.oracle is None:
                n = df.count()
                print(f"[rows-only] {spec.name}: {n} rows")
                continue
            probs = compare(spec.name, df, con, spec.oracle)
        except Exception as e:  # noqa: BLE001
            probs = [f"EXCEPTION: {type(e).__name__}: {e}"]
        if probs:
            failed.append(spec.name)
            print(f"[FAIL] {spec.name} ({spec.section})")
            for p in probs:
                print(f"       {p}")
        else:
            print(f"[ ok ] {spec.name} ({spec.section})")
    print(f"\n{sf_dir}: {ran - len(failed)}/{ran} passing")
    return ran, failed


def main() -> int:
    args = sys.argv[1:]
    if args and args[0] == "--all-scales":
        # The round convention is a three-scale pass; one warm JVM for
        # all of them cuts ~2 startup costs vs three invocations.
        scales = [
            "/root/testdata/sf0.001",
            "/root/testdata/sf0.01",
            "/root/testdata/sf0.1",
        ]
        only = set(args[1:])
    else:
        scales = [args[0] if args else "/root/testdata/sf0.01"]
        only = set(args[1:])
    spark = get_spark("verify-local")
    any_failed = False
    for sf_dir in scales:
        _, failed = run_scale(spark, sf_dir, only)
        any_failed = any_failed or bool(failed)
    return 1 if any_failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
