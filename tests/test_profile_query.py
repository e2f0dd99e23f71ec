"""tools/profile_query.py attributes jobs by job-ID window, so jobs that
`session.parallel_actions` submits from its pool threads count too, and
records the driver's py4j round trips per rep."""

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


def test_profile_counts_jvm_process_spawns(spark):
    import shutil

    import pytest

    if not (shutil.which("jcmd") and shutil.which("jfr")):
        pytest.skip("JDK tools (jcmd, jfr) not on PATH")

    def forks_once(sp, _sf_dir):
        gw = sp.sparkContext._gateway
        cmd = gw.new_array(gw.jvm.String, 1)
        cmd[0] = "true"
        gw.jvm.java.lang.Runtime.getRuntime().exec(cmd).waitFor()
        return sp.range(1)

    spec = SimpleNamespace(name="fork_stub", spark=forks_once)
    r = profile_one(spark, spec, "", reps=2, warm=0)
    assert len(r["jvm_spawns"]) == 2
    assert all(n >= 1 for n in r["jvm_spawns"])
    assert r["jvm_spawn_cmds"]["true"] == 2


def test_profile_counts_py4j_round_trips(spark):
    def plain(sp, _sf_dir):
        return sp.range(1)

    def chatty(sp, _sf_dir):
        system = sp.sparkContext._jvm.java.lang.System
        for _ in range(50):
            system.nanoTime()
        return sp.range(1)

    base = profile_one(spark, SimpleNamespace(name="plain_stub", spark=plain),
                       "", reps=2, warm=1)
    more = profile_one(spark, SimpleNamespace(name="chatty_stub", spark=chatty),
                       "", reps=2, warm=1)
    assert len(base["py4j_calls"]) == len(more["py4j_calls"]) == 2
    assert all(n > 0 for n in base["py4j_calls"])
    for b, m in zip(base["py4j_calls"], more["py4j_calls"]):
        assert m - b >= 50
