"""tools/profile_query.py attributes jobs by job-ID window, so jobs that
`session.parallel_actions` submits from its pool threads count too."""

import sys
from pathlib import Path
from types import SimpleNamespace

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

from profile_query import profile_one  # noqa: E402

from myserver_datawarehouse_spark.session import parallel_actions  # noqa: E402


def test_profile_counts_jobs_of_pooled_actions(spark):
    def pooled(sp, _sf_dir):
        parallel_actions(
            lambda: sp.range(10).count(), lambda: sp.range(20).count()
        )
        return sp.range(1)

    spec = SimpleNamespace(name="pooled_stub", spark=pooled)
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    lo = int(dag.nextJobId())
    pooled(spark, None).write.format("noop").mode("overwrite").save()
    want = int(dag.nextJobId()) - lo
    assert want >= 3  # two pooled counts and the sink write

    r = profile_one(spark, spec, "", reps=2, warm=0)
    assert r["jobs_per_rep"] == want
    assert r["stages_per_rep"] >= want
    assert r["tasks_per_rep"] > 0
