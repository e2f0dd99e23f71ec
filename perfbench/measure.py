"""Measurement core of the benchmark: interval arithmetic, the tail
percentile, host steal, spans around engine calls, and Spark job
attribution by job-ID window.

Job groups (`setJobGroup`) are thread-local, so a job submitted from a
plain `ThreadPoolExecutor` thread carries no group and a group-based
census misses it. Here a span instead records the driver's next job ID
when it opens and when it closes; every job whose ID falls in that
window was submitted while the span was open, from whichever thread.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import math
import statistics
import sys
import threading
import time
import urllib.request
from collections.abc import Callable
from dataclasses import dataclass, field
from datetime import datetime

# --------------------------------------------------------------- arithmetic


def union_length(intervals) -> float:
    """Total length covered by the union of closed intervals (a, b)."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def covered(window, intervals) -> float:
    """Length of `window` = (a, b) covered by the union of `intervals`."""
    a, b = window
    return union_length((max(a, x), min(b, y)) for x, y in intervals)


def self_time(window, children) -> float:
    """A span's duration minus the part of it its child spans cover;
    overlapping children (pooled threads) are counted once."""
    return (window[1] - window[0]) - covered(window, children)


def driver_only(window, job_intervals) -> float:
    """Operation wall time during which no Spark job was running."""
    return self_time(window, job_intervals)


def tail(samples) -> tuple[float, float, int]:
    """(value, percentile, samples beyond) for the highest percentile
    that still has at least ten samples beyond it: the eleventh-largest
    sample. With eleven or fewer samples no percentile has ten beyond
    it; the largest sample is returned and `beyond` says so."""
    s = sorted(samples)
    n = len(s)
    if n < 11:
        return s[-1], 100.0, 0
    return s[n - 11], 100.0 * (n - 10) / n, 10


def overhead(samples, traced) -> tuple[float, float]:
    """(mean traced minus mean untraced sample, its standard error);
    `traced` flags each sample. Run in ABBA order, a linear drift
    cancels. A difference within about two standard errors of zero is
    an overhead smaller than the samples resolve."""
    t = [x for x, f in zip(samples, traced) if f]
    u = [x for x, f in zip(samples, traced) if not f]
    se = math.sqrt(statistics.variance(t) / len(t) + statistics.variance(u) / len(u))
    return statistics.fmean(t) - statistics.fmean(u), se


def cpu_ticks() -> list[int]:
    """Aggregate /proc/stat cpu ticks (user nice system idle iowait irq
    softirq steal ...); empty where /proc/stat is unavailable."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return []


def steal_pct(c0: list[int], c1: list[int]) -> float:
    """Share of all cpu ticks between two snapshots that the hypervisor
    stole, in percent; -1 when unknown."""
    if len(c0) < 8 or len(c1) < 8:
        return -1.0
    d = [b - a for a, b in zip(c0, c1)]
    tot = sum(d)
    return 100.0 * d[7] / tot if tot > 0 else -1.0


# ------------------------------------------------------------------ spans


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    sid: int = 0
    job_lo: int = 0
    job_hi: int = 0

    @property
    def window(self) -> tuple[float, float]:
        return (self.start, self.end)


@dataclass
class Tracer:
    """Spans recorded around calls into the engine's layers. Times are
    `time.time()` seconds so they line up with Spark's job timestamps.
    `next_job_id` returns the ID the driver will give its next job."""

    next_job_id: Callable[[], int] = lambda: 0
    spans: list[Span] = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _local: threading.local = field(default_factory=threading.local)
    _ids: itertools.count = field(default_factory=lambda: itertools.count(1))
    # The stack of the thread that opened the outermost span: a span
    # opened on a pooled thread with no span of its own nests under
    # that stack's innermost span.
    _main: list | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        main = self._main
        parent = stack[-1] if stack else (main[-1] if main else None)
        sp = Span(name, time.time(), parent=parent, sid=next(self._ids),
                  job_lo=self.next_job_id())
        stack.append(sp.sid)
        if parent is None:
            self._main = stack
        try:
            yield sp
        finally:
            sp.job_hi = self.next_job_id()
            sp.end = time.time()
            stack.pop()
            if parent is None:
                self._main = None
            with self._lock:
                self.spans.append(sp)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


def replace_everywhere(orig, new, package: str) -> None:
    """Rebind every module-level name in the loaded modules of `package`
    that refers to `orig` (its defining module, and modules that
    imported it by name) to `new`."""
    for mod in list(sys.modules.values()):
        if mod is None or not getattr(mod, "__name__", "").startswith(package):
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, new)


def patch_everywhere(tracer: Tracer, module, fn_name: str, span_name: str,
                     package: str) -> None:
    """Wrap `module.fn_name` in a span named `span_name` wherever the
    package refers to it."""
    orig = getattr(module, fn_name)
    replace_everywhere(orig, tracer.wrap(span_name, orig), package)


# ------------------------------------------------------------- Spark jobs


def _spark_ts(s: str | None) -> float | None:
    """Spark REST timestamp ('2026-01-02T03:04:05.678GMT') to epoch s."""
    if not s:
        return None
    return datetime.strptime(s.replace("GMT", "+0000"),
                             "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


class SparkJobs:
    """Reads finished jobs and stages from the driver's status REST API
    (the local UI server) and sums them over job-ID windows."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self._dag = sc._jsc.sc().dagScheduler()
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}

    def next_job_id(self) -> int:
        # py4j converts the scheduler's AtomicInteger (a java Number).
        return int(self._dag.nextJobId())

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=30) as r:
            return json.load(r)

    def refresh(self, lo: int, hi: int) -> None:
        """Load jobs with IDs in [lo, hi) and their stages."""
        if hi <= lo:
            return
        for j in self._get("/jobs"):
            if lo <= j["jobId"] < hi:
                self.jobs[j["jobId"]] = j
        want = {s for jid in range(lo, hi) for s in self.jobs.get(jid, {}).get("stageIds", [])}
        if want - self.stages.keys():
            for st in self._get("/stages"):
                if st["stageId"] in want and st.get("status") in ("COMPLETE", "FAILED"):
                    self.stages[st["stageId"]] = st

    def window(self, lo: int, hi: int) -> dict:
        """Totals over the jobs with IDs in [lo, hi); job intervals are
        returned for the driver-only arithmetic."""
        out = {"jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0,
               "task_cpu_s": 0.0, "gc_s": 0.0, "input_bytes": 0,
               "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
               "spill_bytes": 0, "input_records": 0, "output_records": 0,
               "intervals": []}
        for jid in range(lo, hi):
            j = self.jobs.get(jid)
            out["jobs"] += 1
            if j is None:
                continue
            t0, t1 = _spark_ts(j.get("submissionTime")), _spark_ts(j.get("completionTime"))
            if t0 is not None and t1 is not None:
                out["intervals"].append((t0, t1))
            for sid in j.get("stageIds", []):
                st = self.stages.get(sid)
                if st is None:
                    continue  # skipped: an earlier job's shuffle output was reused
                out["stages"] += 1
                out["tasks"] += st.get("numCompleteTasks", 0) + st.get("numFailedTasks", 0)
                out["task_s"] += st.get("executorRunTime", 0) / 1e3
                out["task_cpu_s"] += st.get("executorCpuTime", 0) / 1e9
                out["gc_s"] += st.get("jvmGcTime", 0) / 1e3
                out["input_bytes"] += st.get("inputBytes", 0)
                out["input_records"] += st.get("inputRecords", 0)
                out["output_records"] += st.get("outputRecords", 0)
                out["shuffle_read_bytes"] += st.get("shuffleReadBytes", 0)
                out["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
                out["spill_bytes"] += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
        return out
