"""Self-tests of the benchmark's own arithmetic and attribution.

    python3 -m pytest perfbench/test_perfbench.py -q

The last test starts a small local Spark session.
"""

from __future__ import annotations

import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from types import SimpleNamespace

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import measure  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    samples = [float(i) for i in range(1, 51)]  # 1..50, shuffled below
    samples = samples[25:] + samples[:25]
    value, pct, beyond = measure.tail(samples)
    assert value == 40.0  # 41..50 lie beyond it
    assert pct == 80.0 and beyond == 10
    value, pct, beyond = measure.tail([float(i) for i in range(11)])
    assert (value, beyond) == (0.0, 10)
    # Too few samples for ten beyond: the largest, flagged as such.
    assert measure.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 0)


def test_self_time_counts_overlapping_pooled_children_once():
    span = (0.0, 10.0)
    children = [(1.0, 4.0), (3.0, 6.0), (3.5, 5.0), (8.0, 9.0), (9.5, 12.0)]
    # Covered: [1, 6] + [8, 9] + [9.5, 10] = 6.5 s of the 10 s span.
    assert measure.self_time(span, children) == pytest.approx(3.5)
    assert measure.self_time(span, []) == 10.0


def test_driver_only_is_wall_minus_union_of_job_intervals():
    op = (100.0, 110.0)
    jobs = [(101.0, 102.0), (101.5, 103.0), (99.0, 100.5), (109.0, 112.0)]
    # Jobs run during [100, 100.5] + [101, 103] + [109, 110] = 3.5 s.
    assert measure.driver_only(op, jobs) == pytest.approx(6.5)
    assert measure.union_length([(0, 1), (2, 3), (0.5, 2.5)]) == 3.0


def test_tracing_overhead_cancels_a_linear_drift():
    pattern = (False, True, True, False) * 2
    # A steady 0.1 s per repeat slow-down plus 0.5 s per traced repeat.
    samples = [5.0 + 0.1 * i + (0.5 if t else 0.0) for i, t in enumerate(pattern)]
    diff, se = measure.overhead(samples, pattern)
    assert diff == pytest.approx(0.5) and se > 0


def test_pooled_thread_spans_nest_under_the_open_span():
    tr = measure.Tracer()
    with tr.span("op"):
        with tr.span("inner"):
            with ThreadPoolExecutor(2) as ex:
                list(ex.map(lambda _: tr.wrap("pooled", time.sleep)(0.01), range(2)))
    by_name = {}
    for s in tr.spans:
        by_name.setdefault(s.name, []).append(s)
    (inner,) = by_name["inner"]
    assert [s.parent for s in by_name["pooled"]] == [inner.sid, inner.sid]


def test_same_seed_same_inputs_different_seed_different_inputs(tmp_path):
    hours = workloads.HourlyEtl.plan
    assert hours(7, 12) == hours(7, 12)
    assert hours(7, 12) != hours(8, 12)
    h = hours(7, 200)
    assert len(set(h)) < len(h)  # some ticks replay an earlier hour
    first = workloads.datagen.EVENTS_EPOCH_S + workloads.HourlyEtl.PRELOAD_DAYS * 86_400
    # Neither a timed tick nor a warm-up tick (the hours just before the
    # first timed one) is an hour the preload already holds.
    assert min(h) - workloads.HourlyEtl.WARM_UP_TICKS * 3600 >= first

    import pyarrow.parquet as pq

    def events(seed):
        out = tmp_path / f"s{seed}_{len(list(tmp_path.iterdir()))}"
        workloads.datagen.generate(str(out), seed, 0.001)
        return pq.read_table(out / "events.parquet")

    a, b, c = events(7), events(7), events(8)
    assert a.equals(b) and not a.equals(c) and a.num_rows == c.num_rows

    # stream_ingest runs its queries in one fixed order for every seed.
    names = workloads.StreamIngest.QUERIES
    engine = SimpleNamespace(registry=SimpleNamespace(
        specs=lambda: [SimpleNamespace(name=n)
                       for n in (workloads.StreamIngest.WARM_UP, *names)]))
    stream = workloads.StreamIngest(engine)
    assert stream.plan(7, 2) == stream.plan(8, 2) == list(names) * 2


def test_every_timed_sample_counts():
    """No adaptive extra repetitions and no substitution of a lower
    central sample: one latency per planned operation, and every one of
    them enters the metrics."""
    plan = [0.0, 0.05, 0.0, 0.2]
    calls = []

    def op(_spark, delay, _tracer):
        calls.append(delay)
        time.sleep(delay)
        return delay

    bench = object.__new__(run.Bench)
    bench.spark = None
    bench.wl = SimpleNamespace(run=op, check=lambda *a: None)
    lat, failures, _ = bench.run_ops(plan, oracle=None)
    assert calls == plan and len(lat) == len(plan) and not failures
    assert lat[3] >= 0.2  # the slow sample is kept

    m = run.end_to_end(3.0, [1.0, 2.0, 10.0, 11.0], 1, 2_000_000)
    assert m["wall_s"] == (24.0, "s")
    assert m["op_p50_s"] == (6.0, "s")  # both central samples, not the lower
    assert m["op_tail_s"] == (11.0, "s")
    assert m["setup_s"] == (3.0, "s")
    assert m["ok_ratio"] == (0.75, "ratio") and m["stored_mb"] == (2.0, "MB")


def test_failed_operation_counts_and_run_continues():
    def op(_spark, item, _tracer):
        if item == "bad":
            raise ValueError("boom")
        return item

    bench = object.__new__(run.Bench)
    bench.spark = None
    bench.wl = SimpleNamespace(
        run=op, check=lambda _s, item, _r, _o: "mismatch" if item == "wrong" else None)
    lat, failures, _ = bench.run_ops(["ok", "bad", "wrong", "ok"], oracle=None)
    assert len(lat) == 4
    assert [f.split(":")[0] for f in failures] == ["bad", "wrong"]


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[2]").appName("perfbench-selftest")
         .config("spark.ui.showConsoleProgress", "false").getOrCreate())
    yield s
    s.stop()


def test_job_from_plain_thread_pool_is_counted_in_its_span(spark):
    sj = measure.SparkJobs(spark)
    tr = measure.Tracer(next_job_id=sj.next_job_id)
    sc = spark.sparkContext
    sc.setJobGroup("selftest", "main-thread group")
    try:
        with tr.span("op") as sp:
            spark.range(10).count()
            with ThreadPoolExecutor(1) as ex:
                ex.submit(lambda: spark.range(20).count()).result()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sj.refresh(sp.job_lo, sp.job_hi)
    assert sp.job_hi - sp.job_lo >= 2
    groups = [sj.jobs[j].get("jobGroup") for j in range(sp.job_lo, sp.job_hi)]
    # The pooled job carries no group, so a group census would miss it;
    # the job-ID window still counts it.
    assert "selftest" in groups and None in groups
    w = sj.window(sp.job_lo, sp.job_hi)
    assert w["jobs"] == sp.job_hi - sp.job_lo and w["tasks"] >= 2
    assert 0.0 <= measure.driver_only(sp.window, w["intervals"]) <= sp.end - sp.start
