"""Spans, operation records and the Spark/JVM counters of a run.

A span is (name, start, end, parent, request id). Spans are kept in memory
and written as one JSON file when the run ends. With tracing off,
:class:`Tracer` records nothing and sets no job groups, so the untraced run
measures the engine alone.
"""

from __future__ import annotations

import json
import statistics
import sys
import time
from contextlib import contextmanager

_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since start."""
    print(f"[perfbench {time.perf_counter() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None  # the SparkContext job groups are set on
        self.spans: list[dict] = []
        self.jobs: dict[str, list[tuple[int, int]]] = {}  # op -> [(jobs, tasks)] per call
        self._stack: list[int] = []
        self._req = 0

    def request(self) -> None:
        """Start a new request id; spans opened until the next call share it."""
        self._req += 1

    @contextmanager
    def span(self, name: str, jobs_op: str | None = None):
        """Record a span around a block. When ``jobs_op`` is given, also count
        the Spark jobs and tasks the block ran, under a job group of its own."""
        if not self.enabled:
            yield
            return
        group = None
        if jobs_op is not None:
            group = f"pb-{len(self.spans)}"
            self.sc.setJobGroup(group, jobs_op)
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "request": self._req}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group is not None:
                self.sc._jsc.clearJobGroup()
                self.jobs.setdefault(jobs_op, []).append(job_counts(self.sc, group))

    def summary(self) -> dict[str, dict]:
        """Per span name: call count, median and total duration in ms."""
        by_name: dict[str, list[float]] = {}
        for s in self.spans:
            by_name.setdefault(s["name"], []).append((s["end"] - s["start"]) * 1e3)
        return {n: {"n": len(d), "median_ms": statistics.median(d), "total_ms": sum(d)}
                for n, d in by_name.items()}

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({**extra, "span_summary": self.summary(), "jobs": self.jobs,
                       "spans": self.spans}, fh, indent=1)


class Recorder:
    """Runs a workload's operations. Each is timed in two parts: ``call``,
    the engine function (plan building plus any eager jobs it runs), and
    ``exec``, executing the DataFrame it returned. Latency samples are kept
    only while ``timing`` is set; an operation that raises, or whose output
    fails its check, counts as failed."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.timing = False
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.samples: dict[str, list[tuple[float, float]]] = {}

    def op(self, name: str, call, execute=None):
        """``execute(call())``; returns None when either raised."""
        self.attempted += 1
        tr, pc = self.tracer, time.perf_counter
        try:
            with tr.span(name, jobs_op=name if self.timing else None):
                t0 = pc()
                with tr.span(f"{name}.call"):
                    out = call()
                t1 = pc()
                if execute is not None:
                    with tr.span(f"{name}.exec"):
                        out = execute(out)
                t2 = pc()
        except Exception as e:  # report it, keep measuring the rest
            self._fail(f"{name}: {type(e).__name__}: {e}")
            return None
        if self.timing:
            self.samples.setdefault(name, []).append((t1 - t0, t2 - t1))
        return out

    def verify(self, name: str, problems: list[str]) -> None:
        """Count the operation just run as failed if its check found problems."""
        if problems:
            self._fail(f"{name}: {'; '.join(problems)}")

    def _fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what[:500])


def job_counts(sc, group: str) -> tuple[int, int]:
    """(jobs, tasks) run under a job group, from the status tracker."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            stage = tracker.getStageInfo(sid)
            tasks += stage.numTasks if stage else 0
    return len(jobs), tasks


def counters(spark) -> dict[str, float]:
    """Cumulative GC time and count and code-generation compiles of the
    driver JVM, storage memory held by cached blocks, and the CPU time of
    this Python process."""
    import resource

    ru = resource.getrusage(resource.RUSAGE_SELF)
    jvm = spark._jvm
    gc_ms = gc_n = 0
    for bean in jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans():
        gc_ms += max(0, bean.getCollectionTime())
        gc_n += max(0, bean.getCollectionCount())
    hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    compiles = hist.getCount()
    return {
        "gc_ms": float(gc_ms),
        "gc_count": float(gc_n),
        "compiles": float(compiles),
        # the histogram keeps a sample of compile times; mean x count
        # estimates their total
        "compile_ms": float(hist.getSnapshot().getMean() * compiles),
        "cached_mb": cached_mb(spark),
        "py_cpu_s": ru.ru_utime + ru.ru_stime,
    }


def cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def distance_scan_ms(table, q) -> float:
    """Noop-sink scan of a cached table's ``embedding`` column computing the
    engine's cosine kernel for one query; median of three, in ms."""
    from pyspark.sql import functions as F
    from vector_db_from_scratch_spark.functions.vector import distance_expr

    qcol = F.array(*[F.lit(float(x)) for x in q])
    df = table.select(distance_expr("cosine", F.col("embedding"), qcol).alias("d"))
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    return statistics.median(times) * 1e3
