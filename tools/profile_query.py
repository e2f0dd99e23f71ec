"""Per-query profiler for the optimization rounds: run named registry
queries through the bench's noop-sink protocol and report, for each,

  - wall seconds (median of reps, after a warm rep),
  - Spark job count / stage count / task count per rep, attributed by
    job-ID window (perfbench/measure.SparkJobs), so jobs submitted from
    pooled threads (`session.parallel_actions`) count too — a job group
    is thread-local and misses them,
  - Exchange / BroadcastExchange / *EvalPython node counts and the join
    strategies in the FINAL executed plan (via explain after AQE),
  - processes the driver JVM forked per rep (`jvm_spawns`, with the
    forked programs counted in `jvm_spawn_cmds`), from a JFR
    `jdk.ProcessStart` recording started and stopped through `jcmd`
    around each rep; null when the JDK tools (`jcmd`, `jfr`) are not on
    PATH. Each fork blocks the thread that made it (a local filesystem
    without libhadoop shells out per file), so this is driver time the
    job census cannot show,
  - the driver's py4j round trips per rep (`py4j_calls`): every command
    the Python side sends the JVM (a DataFrame or Column call, a conf
    read, a job submission) goes through
    `py4j.clientserver.ClientServerConnection.send_command`, counted
    around each rep on every thread,
  - the classes Spark's code generator compiled per rep
    (`codegen_compiles`): the exact count delta of
    `CodegenMetrics.METRIC_COMPILATION_TIME()`, a histogram with one
    entry per Janino compilation in the JVM (the driver's, so on a
    local session the executors' too). A cache hit compiles nothing, so
    a repeat of a warm plan reads 0 and a query whose code embeds its
    literals compiles anew on every rep,

  - shuffle bytes read and written per rep, summed over the stages of
    the same job-ID window, so construction-time and pooled jobs count,

so an optimization can be judged by plan shape + scheduler load, not
wall-clock alone (guide §1: measure first; §7.2: read the plan).

Run without query names or `--family`, it profiles the whole registry
and also writes SHUFFLE.md, the registry's shuffle bytes per query.

Usage: python tools/profile_query.py [--sf DIR] [--reps N] query ...
       python tools/profile_query.py --family llm_text
       python tools/profile_query.py [--sf DIR]  # whole registry + SHUFFLE.md
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import time
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.append(os.path.join(ROOT, "perfbench"))

import measure  # noqa: E402
from myserver_datawarehouse_spark import registry  # noqa: E402
from myserver_datawarehouse_spark.session import get_spark  # noqa: E402


def noop(df) -> None:
    """Run `df` through the bench's `noop` sink."""
    df.write.format("noop").mode("overwrite").save()


def profiling_session(app: str):
    """A quiet session, warmed up like bench.py's so the first query is
    not charged with the session's first job."""
    spark = get_spark(app, extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    noop(spark.range(1000).selectExpr("sum(id)"))
    return spark


def plan_counts(df) -> dict:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    txt = buf.getvalue()
    counts = {
        "exchange": len(re.findall(r"\bExchange\b", txt))
        - len(re.findall(r"BroadcastExchange", txt)),
        "broadcast_exchange": len(re.findall(r"BroadcastExchange", txt)),
        "smj": len(re.findall(r"SortMergeJoin", txt)),
        "bhj": len(re.findall(r"BroadcastHashJoin", txt)),
        "shj": len(re.findall(r"ShuffledHashJoin", txt)),
        "bnlj": len(re.findall(r"BroadcastNestedLoopJoin", txt)),
        "python": len(re.findall(r"EvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas", txt)),
        "sort": len(re.findall(r"\bSort\b", txt)),
        "window": len(re.findall(r"\bWindow\b", txt)),
    }
    return counts


_SPAWN_JFC = """<?xml version="1.0" encoding="UTF-8"?>
<configuration version="2.0">
  <event name="jdk.ProcessStart">
    <setting name="enabled">true</setting>
    <setting name="stackTrace">false</setting>
  </event>
</configuration>
"""


@contextlib.contextmanager
def jvm_spawns(pid: int):
    """Count the processes the JVM `pid` forks inside the block: a JFR
    recording of `jdk.ProcessStart` alone, started and stopped through
    `jcmd`. The yielded Counter holds the forked programs' basenames
    once the block exits."""
    counts: Counter = Counter()
    with tempfile.TemporaryDirectory(prefix="msdw_jfr_") as tmp:
        jfc, rec = os.path.join(tmp, "spawns.jfc"), os.path.join(tmp, "spawns.jfr")
        with open(jfc, "w") as fh:
            fh.write(_SPAWN_JFC)

        def jcmd(*args: str) -> None:
            subprocess.run(["jcmd", str(pid), *args], check=True,
                           capture_output=True, text=True)

        jcmd("JFR.start", "name=msdw_spawns", f"settings={jfc}")
        try:
            yield counts
        finally:
            jcmd("JFR.stop", "name=msdw_spawns", f"filename={rec}")
        out = subprocess.run(
            ["jfr", "print", "--json", "--events", "jdk.ProcessStart", rec],
            check=True, capture_output=True, text=True).stdout
        counts.update(
            os.path.basename(e["values"]["command"].split()[0])
            for e in json.loads(out)["recording"]["events"]
        )


@contextlib.contextmanager
def py4j_calls():
    """Count the py4j commands the driver sends to the JVM inside the
    block, from any thread. The yielded list holds the count once the
    block exits."""
    from py4j.clientserver import ClientServerConnection

    send = ClientServerConnection.send_command
    sent = []

    def counted(self, command):
        sent.append(1)  # list.append is atomic under the GIL
        return send(self, command)

    ClientServerConnection.send_command = counted
    total: list[int] = []
    try:
        yield total
    finally:
        ClientServerConnection.send_command = send
        total.append(len(sent))


def profile_one(spark, spec, sf_dir: str, reps: int, warm: int) -> dict:
    for _ in range(warm):
        noop(spec.spark(spark, sf_dir))
    jobs = measure.SparkJobs(spark)
    jvm = spark.sparkContext._gateway.proc.pid
    jdk_tools = bool(shutil.which("jcmd") and shutil.which("jfr"))
    times = []
    steals = []
    spawn_counts = []
    calls = []
    compiles = []
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source
    compiled = metrics.CodegenMetrics.METRIC_COMPILATION_TIME()
    spawn_cmds: Counter = Counter()
    lo = jobs.next_job_id()
    for _ in range(reps):
        with (jvm_spawns(jvm) if jdk_tools else contextlib.nullcontext()) as cmds:
            n0 = compiled.getCount()
            c0 = measure.cpu_ticks()
            t0 = time.perf_counter()
            with py4j_calls() as n_calls:
                noop(spec.spark(spark, sf_dir))
            times.append(time.perf_counter() - t0)
            compiles.append(compiled.getCount() - n0)
            steals.append(round(measure.steal_pct(c0, measure.cpu_ticks()), 2))
            calls += n_calls
        if cmds is not None:
            spawn_counts.append(sum(cmds.values()))
            spawn_cmds.update(cmds)
    hi = jobs.next_job_id()
    # the status store is fed by the listener bus: drain it first
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    jobs.refresh(lo, hi)
    census = jobs.window(lo, hi)
    # plan shape of the (lazily rebuilt) frame
    try:
        counts = plan_counts(spec.spark(spark, sf_dir))
    except Exception as e:  # eager queries may not re-explain cheaply
        counts = {"err": str(e)[:80]}
    times.sort()
    med = times[len(times) // 2] if len(times) % 2 else (
        times[len(times) // 2 - 1]
    )
    return {
        "name": spec.name,
        "wall_med": round(med, 3),
        "reps": [round(t, 3) for t in times],
        "jobs_per_rep": round(census["jobs"] / max(1, reps), 1),
        "stages_per_rep": round(census["stages"] / max(1, reps), 1),
        "tasks_per_rep": round(census["tasks"] / max(1, reps), 1),
        "shuffle_read_bytes_per_rep": round(
            census["shuffle_read_bytes"] / max(1, reps)),
        "shuffle_write_bytes_per_rep": round(
            census["shuffle_write_bytes"] / max(1, reps)),
        # hypervisor steal% per rep: >2-3% means the rep is a host
        # phase, not the plan (see perfbench/measure.cpu_ticks).
        "steal_pct": steals,
        "py4j_calls": calls,
        "codegen_compiles": compiles,
        "jvm_spawns": spawn_counts if jdk_tools else None,
        "jvm_spawn_cmds": dict(spawn_cmds) if jdk_tools else None,
        **counts,
    }


def _fmt(b: float) -> str:
    for unit in ("B", "KiB", "MiB", "GiB"):
        if b < 1024:
            return f"{b:.1f} {unit}" if unit != "B" else f"{b:.0f} B"
        b /= 1024.0
    return f"{b:.1f} TiB"


def write_shuffle_report(rows: list[dict], sf_dir: str, reps: int,
                         warm: int) -> None:
    """SHUFFLE.md: the registry's shuffle bytes per query, from the
    profiler's rows of every registry query."""
    rows = sorted(rows, key=lambda r: -r["shuffle_write_bytes_per_rep"])
    zero = sum(r["shuffle_write_bytes_per_rep"] == 0 for r in rows)
    total_w = sum(r["shuffle_write_bytes_per_rep"] for r in rows)
    out = [
        "# SHUFFLE — measured shuffle bytes per registry query",
        f"(generated by tools/profile_query.py at {sf_dir}; per rep, over",
        f"{reps} rep(s) after {warm} warm, noop sink; each stage's shuffle",
        "bytes summed over the rep's job-ID window once the listener bus",
        "drained — eager queries include their construction-time work,",
        "pooled jobs count)",
        "",
        f"**Total shuffle write across the registry: {_fmt(total_w)}.**",
        f"**{zero}/{len(rows)} queries shuffle ZERO bytes** "
        "(map-side-only plans: scans + broadcast joins + partial-agg "
        "pushdown or bounded top-k).",
        "",
        "Top shuffle producers (write | read):",
        "",
        "| query | shuffle write | shuffle read |",
        "|---|---|---|",
    ]
    out += [f"| {r['name']} | {_fmt(r['shuffle_write_bytes_per_rep'])} | "
            f"{_fmt(r['shuffle_read_bytes_per_rep'])} |" for r in rows[:25]]
    out += [
        "",
        "Interpretation: the top rows are the queries whose DESIGN is a",
        "keyed repartition of real data volume (fact-grain aggregates,",
        "candidate-pair joins, iterative components); a query appearing",
        "here without a documented data-volume shuffle in its docstring",
        "would be a plan bug. Zero-shuffle queries stay zero at any",
        "scale — their cost is scan + broadcast only.",
        "",
    ]
    with open(os.path.join(ROOT, "SHUFFLE.md"), "w") as fh:
        fh.write("\n".join(out))
    print(f"wrote SHUFFLE.md: total write {_fmt(total_w)}, "
          f"{zero} zero-shuffle queries")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--warm", type=int, default=1)
    ap.add_argument("--family", default="")
    args = ap.parse_args()

    spark = profiling_session("profile")
    from myserver_datawarehouse_spark.sources.tables import (
        TESTDATA_TABLES,
        load_table,
    )

    for t in TESTDATA_TABLES:
        noop(load_table(spark, args.sf, t))
    noop(spark.range(32).mapInPandas(lambda it: it, "id long"))

    specs = registry.specs()
    if args.family:
        fams = {f.strip() for f in args.family.split(",")}
        specs = [
            s for s in specs
            if s.spark.__module__.rsplit(".", 1)[-1] in fams
        ]
    if args.queries:
        by_name = {s.name: s for s in specs}
        specs = [by_name[q] for q in args.queries]
    specs = sorted(specs, key=lambda s: s.name)

    out = []
    for spec in specs:
        r = profile_one(spark, spec, args.sf, args.reps, args.warm)
        out.append(r)
        print(json.dumps(r), flush=True)
    if not (args.queries or args.family):
        write_shuffle_report(out, args.sf, args.reps, args.warm)
    out.sort(key=lambda r: -r["wall_med"])
    print("\n== slowest ==")
    for r in out[:15]:
        print(
            f"{r['wall_med']:7.2f}s  jobs={r.get('jobs_per_rep')} "
            f"stages={r.get('stages_per_rep')} tasks={r.get('tasks_per_rep')} "
            f"ex={r.get('exchange')} bx={r.get('broadcast_exchange')} "
            f"py={r.get('python')}  {r['name']}"
        )


if __name__ == "__main__":
    main()
