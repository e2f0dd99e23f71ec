"""tools/plan_identity.py normalises run-specific ids out of a plan dump
(`norm`), PySpark's counter-numbered lambda variables included, and cuts an AQE plan down to the plan the code built, its
operators renumbered in tree order (`initial`). Both are pure text
functions: no Spark session here."""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

from plan_identity import initial, norm  # noqa: E402

ROOT = "/work/checkout"

AQE_PLAN = """AdaptiveSparkPlan (6)
+- == Final Plan ==
   * HashAggregate (5)
   +- AQEShuffleRead (4)
      +- ShuffleQueryStage (3)
         +- Exchange (2)
            +- * Scan parquet  (1)
+- == Initial Plan ==
   HashAggregate (8)
   +- Exchange (7)
      +- Scan parquet  (1)


(1) Scan parquet [codegen id : 1]
Output [1]: [k#12]
Location: InMemoryFileIndex [file:/work/checkout/data/t]

(2) Exchange
Input [1]: [k#12]
Arguments: hashpartitioning(k#12, 4), ENSURE_REQUIREMENTS, [plan_id=41]

(3) ShuffleQueryStage
Output [1]: [k#12]
Arguments: 0

(4) AQEShuffleRead
Input [1]: [k#12]
Arguments: coalesced

(5) HashAggregate [codegen id : 2]
Input [1]: [k#12]

(6) AdaptiveSparkPlan
Output [1]: [k#12]
Arguments: isFinalPlan=true

(7) Exchange
Input [1]: [k#12]
Arguments: hashpartitioning(k#12, 4), ENSURE_REQUIREMENTS, [plan_id=27]

(8) HashAggregate
Input [1]: [k#12]
"""


def test_norm_replaces_run_specific_ids():
    raw = (
        f"Location: InMemoryFileIndex [file:{ROOT}/spark-warehouse/t]\n"
        "Scan ExistingRDD[id#7L] MapPartitionsRDD[12] at "
        "applySchemaToPythonRDD\n"
        "Location: [file:/tmp/spark-3f/part-0.parquet, x#3]\n"
        "dir 0a1b2c3d-4e5f-6a7b-8c9d-0e1f2a3b4c5d\n"
        "* Project [codegen id : 17] [plan_id=93]\n"
        "org.apache.spark.sql.Obj@5e1f2a9\n"
        "(3) ShuffleQueryStage\nOutput [1]: [k#1]\nArguments: 4\n"
        "Scan parquet spark_catalog.default.msdw_bkt_l_0f3c9a1b_41207\n"
    )
    assert norm(raw, ROOT) == (
        "Location: InMemoryFileIndex [file:<ROOT>/spark-warehouse/t]\n"
        "Scan ExistingRDD[id#NL] MapPartitionsRDD[N] at "
        "applySchemaToPythonRDD\n"
        "Location: [<TMP>, x#N]\n"
        "dir <UUID>\n"
        "* Project [codegen id : N] [plan_id=N]\n"
        "org.apache.spark.sql.Obj@H\n"
        "(3) ShuffleQueryStage\nOutput [1]: [k#N]\nArguments: N\n"
        "Scan parquet spark_catalog.default.msdw_bkt_l_0f3c9a1b_<PID>\n"
    )


def test_norm_renumbers_python_lambda_variables():
    def plan(x, y, z):  # the same plan as built at three counter values
        return (
            f"transform(xs#3, lambdafunction((lambda x_{x}#40 * 2), "
            f"lambda x_{x}#40, false)) AS a#5, zip_with(a#5, b#6, "
            f"lambdafunction((lambda x_{y}#41 + lambda y_{z}#42), "
            f"lambda x_{y}#41, lambda y_{z}#42, false))"
        )

    want = (
        "transform(xs#N, lambdafunction((lambda x_1#N * 2), "
        "lambda x_1#N, false)) AS a#N, zip_with(a#N, b#N, "
        "lambdafunction((lambda x_2#N + lambda y_3#N), "
        "lambda x_2#N, lambda y_3#N, false))"
    )
    assert norm(plan(12, 13, 14), ROOT) == want
    assert norm(plan(97, 98, 99), ROOT) == want
    # SQL lambdas (F.expr) carry no counter suffix and stay as written
    sql = "transform(a#1, lambdafunction(lambda x#9.t, lambda x#9, false))"
    assert norm(sql, ROOT) == sql.replace("#1", "#N").replace("#9", "#N")


def test_initial_keeps_the_built_plan_renumbered():
    got = initial(norm(AQE_PLAN, ROOT))
    assert got == "\n\n".join(
        [
            "AdaptiveSparkPlan (1)\n"
            "   HashAggregate (2)\n"
            "   +- Exchange (3)\n"
            "      +- Scan parquet  (4)",
            "(1) AdaptiveSparkPlan\nOutput [1]: [k#N]",
            "(2) HashAggregate\nInput [1]: [k#N]\n",
            "(3) Exchange\nInput [1]: [k#N]\n"
            "Arguments: hashpartitioning(k#N, 4), ENSURE_REQUIREMENTS, "
            "[plan_id=N]",
            "(4) Scan parquet\nOutput [1]: [k#N]\n"
            "Location: InMemoryFileIndex [file:<ROOT>/data/t]",
        ]
    )


def test_initial_leaves_a_plan_without_aqe_final_plan_alone():
    plain = "* Project (2)\n+- * Range (1)\n\n\n(1) Range [codegen id : N]\n"
    assert initial(plain) == plain
