"""Benchmark of the spark-dw engine: one workload, one seed, one process.

    python3 perfbench/run.py --workload hourly_etl --seed 1 --seconds 30 --trace 0

Drives the engine from outside through its public functions
(`session.get_spark`, `pipeline`, the registry plan functions, the `noop`
sink) on `local[nproc]`, in a closed loop with one client: each operation
starts when the previous one has finished. Every operation's output is
checked after it, outside its timed interval; an operation that raises or
fails its check counts as failed and the run goes on.

`--trace 0` prints the end-to-end metrics. `--trace 1` runs the same
operations with spans around calls into the engine's layers and Spark
jobs attributed to spans by job-ID window, prints the per-layer metrics,
and measures the tracing overhead on extra runs of the first operation.
The last line of stdout is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`; the line before it records the run.

Everything the run writes goes under `perfbench/_work/<pid>/`, removed at
exit. The script works from any directory: it ships the engine package to
the Python workers through `spark.executorEnv.PYTHONPATH`.
"""

from __future__ import annotations

import argparse
import contextlib
import inspect
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

import datagen
import measure
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "myserver_datawarehouse_spark"

# Extra runs of the first operation that measure the tracing overhead:
# some discarded (the first repeats still speed up), then untraced/traced
# in ABBA pairs.
OVERHEAD_DISCARDS = 2
OVERHEAD_PAIRS = 2
# Fits a 15 GiB, 4-core host shared with other work; the engine's own
# local default (16g) does not.
DRIVER_HEAP = "4g"

# Per-layer spans: (span name, module attribute on the engine namespace,
# function names, or None for every public function of the module).
LAYERS = (
    ("session.materialize", "session", ("materialize",)),
    ("sources.load_table", "tables", ("load_table",)),
    ("sources.files", "files", None),
    ("merge", "merge", None),
)

# The public functions of streaming.jobs that the stream_ingest queries
# call, one `streaming.<function>_s` each.
STREAMING_FUNCTIONS = (
    "events_stream", "run_available_now",
    "dedup_counts_query", "session_window_query",
    "restart_exactly_once_stream", "upsert_merge_stream", "cdc_apply_stream",
)

SPARK_COUNTERS = ("jobs", "stages", "tasks", "task_s", "task_cpu_s", "gc_s",
                  "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
                  "spill_bytes")

LAYER_UNITS = {
    "session.get_spark_s": "s",
    "plans.construct_s": "s", "plans.construct_jobs": "count",
    "sink.execute_s": "s", "sink.execute_jobs": "count",
    "spark.driver_only_s": "s",
    **{f"spark.{c}": "s" if c.endswith("_s") else
       "bytes" if c.endswith("bytes") else "count" for c in SPARK_COUNTERS},
    "pipeline.rows_read_per_batch_row": "ratio",
    "merge.s": "s", "merge.jobs": "count", "merge.rows_written_per_batch_row": "ratio",
    **{f"streaming.{fn}_s": "s" for fn in STREAMING_FUNCTIONS},
    "streaming.jobs": "count",
    "session.materialize_calls": "count", "session.materialize_s": "s",
    "sources.load_table_s": "s", "sources.files_s": "s",
    "sinks.retries": "count",
    "host.steal_pct": "%", "jvm.peak_rss_mb": "MB", "trace.overhead_s": "s",
}


def _engine():
    """The engine's public modules; raises ImportError when the engine
    is not next to the benchmark."""
    sys.path.insert(0, ROOT)
    from types import SimpleNamespace

    from myserver_datawarehouse_spark import pipeline, registry, session, sinks
    from myserver_datawarehouse_spark.functions import keys
    from myserver_datawarehouse_spark.operators import merge
    from myserver_datawarehouse_spark.plans import flagship
    from myserver_datawarehouse_spark.sources import files, tables
    from myserver_datawarehouse_spark.streaming import jobs

    return SimpleNamespace(
        pipeline=pipeline, registry=registry, session=session, sinks=sinks,
        keys=keys, merge=merge, flagship=flagship, files=files, tables=tables,
        streaming=jobs, load_table=tables.load_table)


def _process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def disk_bytes(root: str) -> int:
    """Bytes allocated on disk under `root`, each inode counted once."""
    seen, total = set(), 0
    for d, _, names in os.walk(root):
        for f in names:
            try:
                st = os.lstat(os.path.join(d, f))
            except FileNotFoundError:
                continue
            if (st.st_dev, st.st_ino) not in seen:
                seen.add((st.st_dev, st.st_ino))
                total += st.st_blocks * 512
    return total


class _NoTrace:
    """Stands in for the tracer in untraced passes."""

    @staticmethod
    def span(_name):
        return contextlib.nullcontext()


class Bench:
    def __init__(self, args, work: str, engine):
        self.args, self.work, self.E = args, work, engine
        self.wl = workloads.make(args.workload, engine)
        self.n_ops = max(self.wl.MIN_OPS, round(args.seconds / self.wl.OP_SECONDS))
        self.plan = self.wl.plan(args.seed, self.n_ops)
        self.spark = None
        self.get_spark_s = 0.0
        self.retries = 0

    # ------------------------------------------------------------ set-up

    def session(self):
        conf = {
            "spark.ui.showConsoleProgress": "false",
            # Python workers import the engine from the checkout root,
            # whatever the working directory.
            "spark.executorEnv.PYTHONPATH": ROOT,
            "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        }
        t0 = time.perf_counter()
        spark = self.E.session.get_spark("perfbench", extra_conf=conf)
        self.get_spark_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def set_up(self) -> None:
        """Spark session (the JVM's cold start), input tables, the
        workload's preparation (the hourly history preload) and its
        untimed warm-up operation."""
        phases = self.setup_phases_s = {"start": _process_age_s()}
        last = [time.perf_counter()]

        def lap(name):
            now = time.perf_counter()
            phases[name], last[0] = now - last[0], now

        self.spark = self.session()
        lap("session")
        self.base = os.path.join(self.work, "run")
        self.data_dir = os.path.join(self.base, "data")
        datagen.generate(self.data_dir, self.args.seed, self.wl.events_sf)
        lap("datagen")
        self.wl.prepare(self.spark, self.data_dir,
                        os.path.join(self.base, "warehouse"))
        lap("prepare")
        self.wl.warm_up(self.spark, self.plan, _NoTrace)
        lap("warm_up")

    # ------------------------------------------------------- operations

    def run_ops(self, plan, oracle, tracer=None):
        """Run each planned operation, then check it untimed. Returns
        latencies, failure messages and, when traced, the op spans."""
        lat, failures, ops = [], [], []
        for item in plan:
            span = tracer.span("op") if tracer else contextlib.nullcontext()
            t0 = time.perf_counter()
            result, err = None, None
            with span as sp:
                try:
                    result = self.wl.run(self.spark, item, tracer or _NoTrace)
                except Exception as e:  # noqa: BLE001 - a failed op is a data point
                    traceback.print_exc()
                    err = f"{type(e).__name__}: {str(e)[:300]}"
            lat.append(time.perf_counter() - t0)
            if err is None:
                try:
                    err = self.wl.check(self.spark, item, result, oracle)
                except Exception as e:  # noqa: BLE001
                    traceback.print_exc()
                    err = f"check raised {type(e).__name__}: {str(e)[:300]}"
            if err is not None:
                failures.append(f"{item}: {err}")
                print(f"FAILED {item}: {err}", file=sys.stderr, flush=True)
            if tracer:
                ops.append((item, sp))
        return lat, failures, ops

    # -------------------------------------------------------------- run

    def run(self) -> tuple[dict, dict]:
        args = self.args
        self.set_up()
        oracle = workloads.Oracle(self.data_dir)
        plan = self.plan
        # Set-up runs from process start to the first timed operation.
        setup_s = _process_age_s()
        env = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "ops": [str(x) for x in plan],
            "setup_s": setup_s, "setup_phases_s": self.setup_phases_s,
            "driver_heap": DRIVER_HEAP, "spark": self.spark.version,
            "python": platform.python_version(),
            "java": self.spark.sparkContext._jvm.java.lang.System.getProperty(
                "java.version"),
        }
        c0 = measure.cpu_ticks()
        if not args.trace:
            lat, failures, _ = self.run_ops(plan, oracle)
            env["host.steal_pct"] = measure.steal_pct(c0, measure.cpu_ticks())
            _, env["tail_percentile"], env["tail_samples_beyond"] = measure.tail(lat)
            stored = disk_bytes(self.base) + disk_bytes(os.environ["TMPDIR"])
            metrics = end_to_end(setup_s, lat, len(failures), stored)
            attempted = len(lat)
        else:
            # Per-layer numbers come from a traced pass over the same
            # operations an untraced run times. The tracing overhead then
            # comes from the first operation run again: untraced and
            # discarded until its repeats have settled, then in untraced,
            # traced, traced, untraced pairs, which cancel a steady drift.
            jobs = measure.SparkJobs(self.spark)
            tracer = measure.Tracer(next_job_id=jobs.next_job_id)
            self.install_spans(tracer)
            lat, failures, ops = self.run_ops(plan, oracle, tracer)
            layer = self.layer_metrics(tracer, ops, jobs, oracle)
            layer["host.steal_pct"] = measure.steal_pct(c0, measure.cpu_ticks())
            traced_pattern = ((False,) * OVERHEAD_DISCARDS
                              + (False, True, True, False) * OVERHEAD_PAIRS)
            repeats = []
            for traced in traced_pattern:
                more_lat, more_fail, _ = self.run_ops(
                    plan[:1], oracle, tracer if traced else None)
                repeats += more_lat
                failures += more_fail
            layer["jvm.peak_rss_mb"] = self.jvm_peak_rss_mb()
            layer["trace.overhead_s"], env["trace.overhead_se_s"] = measure.overhead(
                repeats[OVERHEAD_DISCARDS:], traced_pattern[OVERHEAD_DISCARDS:])
            env["overhead_repeats_s"] = repeats
            attempted = len(lat) + len(repeats)
            metrics = {k: (layer[k], u) for k, u in LAYER_UNITS.items()}
        env["op_latencies_s"] = lat
        env["failures"] = failures
        result = {
            "correct": not failures,
            "attempted": attempted,
            "failed": len(failures),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        return env, result

    def jvm_peak_rss_mb(self) -> float:
        """VmHWM of the driver JVM."""
        pid = self.spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        return -1.0

    # ---------------------------------------------------------- tracing

    def install_spans(self, tracer) -> None:
        E = self.E
        for span_name, mod_attr, names in LAYERS:
            mod = getattr(E, mod_attr)
            for fn in names or _public_functions(mod):
                measure.patch_everywhere(tracer, mod, fn, span_name, PACKAGE)
        for fn in STREAMING_FUNCTIONS:
            measure.patch_everywhere(tracer, E.streaming, fn, f"streaming.{fn}", PACKAGE)
        # The hourly tick's plan function.
        measure.patch_everywhere(tracer, E.pipeline, "hourly_pipeline",
                                 "plans.construct", PACKAGE)
        orig = E.sinks.with_retry

        def with_retry(fn, *args, **kwargs):
            calls = 0

            def counted():
                nonlocal calls
                calls += 1
                return fn()

            try:
                return orig(counted, *args, **kwargs)
            finally:
                self.retries += max(0, calls - 1)

        measure.replace_everywhere(orig, with_retry, PACKAGE)

    def layer_metrics(self, tracer, ops, sj, oracle) -> dict:
        """Per-operation means of every per-layer quantity. A layer's
        time and jobs come from its outermost spans only, so a layer
        function calling another of the same layer is counted once."""
        sj.refresh(min(sp.job_lo for _, sp in ops), max(sp.job_hi for _, sp in ops))
        spans = {s.sid: s for s in tracer.spans}

        def layer(s):
            return "streaming" if s.name.startswith("streaming.") else s.name

        def outermost(s, key) -> bool:
            p = spans.get(s.parent)
            while p is not None:
                if key(p) == key(s):
                    return False
                p = spans.get(p.parent)
            return True

        tot: dict[str, float] = {}

        def add(k, v):
            tot[k] = tot.get(k, 0.0) + v

        batch_rows = written = read = 0
        for item, sp in ops:
            w = sj.window(sp.job_lo, sp.job_hi)
            add("spark.driver_only_s", measure.driver_only(sp.window, w["intervals"]))
            for c in SPARK_COUNTERS:
                add(f"spark.{c}", w[c])
            inside = [s for s in tracer.spans
                      if s.sid != sp.sid and sp.start <= s.start and s.end <= sp.end]
            for s in inside:
                if outermost(s, lambda x: x.name):
                    add(f"{s.name}_s", s.end - s.start)
                    add(f"{s.name}_jobs", s.job_hi - s.job_lo)
                    add(f"{s.name}_calls", 1)
                if layer(s) == "streaming" and outermost(s, layer):
                    add("streaming_jobs", s.job_hi - s.job_lo)
                if s.name == "merge" and outermost(s, layer):
                    written += sj.window(s.job_lo, s.job_hi)["output_records"]
            if hasattr(self.wl, "batch_rows"):
                batch_rows += self.wl.batch_rows(oracle, item)
                read += w["input_records"]
        n = len(ops)
        m = {k: tot.get(k, 0.0) / n for k in LAYER_UNITS}
        m["session.get_spark_s"] = self.get_spark_s
        m["pipeline.rows_read_per_batch_row"] = read / batch_rows if batch_rows else 0.0
        m["merge.s"] = tot.get("merge_s", 0.0) / n
        m["merge.jobs"] = tot.get("merge_jobs", 0.0) / n
        m["merge.rows_written_per_batch_row"] = written / batch_rows if batch_rows else 0.0
        m["streaming.jobs"] = tot.get("streaming_jobs", 0.0) / n
        m["sinks.retries"] = float(self.retries)
        return m


def end_to_end(setup_s: float, lat, n_failed: int, stored_bytes: int) -> dict:
    """The end-to-end metrics as {name: (value, unit)}. Every timed
    sample counts: no sample is dropped, repeated or chosen."""
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (sum(lat), "s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "op_tail_s": (measure.tail(lat)[0], "s"),
        "ok_ratio": ((len(lat) - n_failed) / len(lat), "ratio"),
        "stored_mb": (stored_bytes / 1e6, "MB"),
    }


def _public_functions(mod) -> list[str]:
    return [n for n, f in vars(mod).items()
            if inspect.isfunction(f) and not n.startswith("_")
            and f.__module__ == mod.__name__]


def _stop(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    engine = _engine()
    work = os.path.join(HERE, "_work", str(os.getpid()))
    os.makedirs(os.path.join(work, "tmp"))
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # The launcher JVM would otherwise write /tmp/hsperfdata_*.
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_HEAP,
    })
    tempfile.tempdir = None  # re-read TMPDIR
    bench = Bench(args, work, engine)
    try:
        env, result = bench.run()
    finally:
        if bench.spark is not None:
            _stop(bench.spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))
    env["cpus"] = cpus
    print(json.dumps(env, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
