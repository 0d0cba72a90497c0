"""Benchmark of the engine's entity store and a registry pipeline slice.

Usage (from the repository root):

    python3 perfbench/run.py --workload entity|pipeline --seed N --seconds S --trace 0|1

One single-client, closed-loop run on a fixed ``local[N]`` session. Inputs
are generated from ``--seed`` and cached per seed under
``.perfbench_work/data``. Every operation's output is checked. The last
stdout line is one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. A traced run also writes its spans to
``.perfbench_work/traces/``. perfbench/README.md says what each workload and
metric means.

Every workload runs the same phases: launch the JVM; set up SETUPS times,
each a fresh session plus the workload's stores; one warm-up pass, timed as
``cold_s`` and excluded from every other timing; the timed phase, about
``--seconds`` long; untimed end checks.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("entity", "pipeline")
SETUPS = 3

# Pinned run settings: every run of every workload uses these, so two runs
# differ only in their seed. They are echoed with each run's output.
SETTINGS = {
    "SPARK_GRAFT_CPUS": "2",  # local[2]: half the 4-core box, headroom for the JVM and Python driver
    "SPARK_DRIVER_MEMORY": "2g",
    "SPARK_GRAFT_SHUFFLE_PARTITIONS": "32",  # the engine default
    "SPARK_GRAFT_AQE": "true",
}


def _isolate(run_dir: str) -> None:
    """Pin the session settings and point every directory the engine, Spark
    and the JVM write to into this run's own directory, so a run inherits no
    artifacts from an earlier one and writes nothing outside the checkout."""
    dirs = {k: os.path.join(run_dir, k) for k in ("artifacts", "warehouse", "local", "tmp")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ.update(SETTINGS)
    os.environ["SPARK_GRAFT_ARTIFACT_DIR"] = dirs["artifacts"]
    os.environ["SPARK_WAREHOUSE_DIR"] = dirs["warehouse"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # for the driver JVM and the launcher JVM that spark-submit starts first;
    # -XX:-UsePerfData: no hsperfdata file under /tmp
    jvm_opts = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    os.environ["PYSPARK_SUBMIT_ARGS"] = f'--driver-java-options "{jvm_opts}" pyspark-shell'
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


class Session:
    """Owns the SparkSession of one run: (re)starts it, and on close stops it
    together with the JVM it launched."""

    def __init__(self):
        self.spark = None

    def restart(self):
        from vector_db_from_scratch_spark.operators import _memo
        from vector_db_from_scratch_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
            _memo.clear()
        self.spark = get_spark("perfbench")
        return self.spark

    def close(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            # the JVM exits when its stdin closes; its Python workers exit with it
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def _med(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def measure(wl, sess, rec, tracer, seconds: float) -> dict:
    """Run the phases every workload shares; returns the raw figures."""
    from tracing import counters, distance_scan_ms, log

    pc = time.perf_counter
    t0 = pc()
    spark = sess.restart()
    start_s = pc() - t0
    log("session up; set-up")
    setup_s, build_s = [], []
    for _ in range(SETUPS):
        t0 = pc()
        spark = sess.restart()
        t1 = pc()
        wl.build(spark)
        setup_s.append(pc() - t0)
        build_s.append(pc() - t1)
    tracer.sc = spark.sparkContext

    log("warm-up pass")
    t0 = pc()
    wl.cold(spark)
    cold_s = pc() - t0

    log("timed rounds")
    rec.timing = True
    c0 = counters(spark)
    t0 = pc()
    units, units_s = wl.timed(spark, seconds)
    timed_s = pc() - t0
    c1 = counters(spark)
    rec.timing = False

    log("end checks")
    wl.finish(spark)
    scan_ms = None
    if tracer.enabled:
        table, q = wl.scan_table(spark)
        scan_ms = distance_scan_ms(table, q)
    return {
        "start_s": start_s, "setup_s": setup_s, "build_s": build_s,
        "cold_s": cold_s, "units": units, "units_s": units_s, "timed_s": timed_s,
        "c0": c0, "c1": c1, "scan_ms": scan_ms,
    }


def end_to_end(raw: dict, rec) -> dict:
    """The end-to-end metrics, the same five on every workload."""
    med = {op: _med([c + e for c, e in v]) for op, v in rec.samples.items()}
    return {
        "setup_s": (_med(raw["setup_s"]), "s"),
        "latency_ms": (statistics.geometric_mean(med.values()) * 1e3, "ms"),
        "throughput_per_s": (raw["units"] / raw["units_s"], "1/s"),
        "cold_s": (raw["cold_s"], "s"),
        "cache_mb": (raw["c1"]["cached_mb"], "MB"),
    }


def per_layer(raw: dict, rec, tracer, wl, e2e: dict) -> dict:
    """The per-layer metrics of a traced run, the same set on every workload.
    Per operation type the median is taken; sums are over the workload's
    operation types, i.e. one operation of each type."""
    call = {op: _med([c for c, _ in v]) * 1e3 for op, v in rec.samples.items()}
    execu = {op: _med([e for _, e in v]) * 1e3 for op, v in rec.samples.items()}
    jobs = {op: _med([j for j, _ in v]) for op, v in tracer.jobs.items()}
    tasks = {op: _med([t for _, t in v]) for op, v in tracer.jobs.items()}
    c0, c1 = raw["c0"], raw["c1"]
    wl.detail.update(call_ms=call, exec_ms=execu, spark_jobs=jobs, spark_tasks=tasks)
    return {
        "session.start_s": (raw["start_s"], "s"),
        "builds.s": (wl.builds_s(raw["build_s"]), "s"),
        "ops.call_ms": (sum(call.values()), "ms"),
        "ops.exec_ms": (sum(execu.values()), "ms"),
        "spark.jobs": (sum(jobs.values()), "count"),
        "spark.tasks": (sum(tasks.values()), "count"),
        "vector.distance_scan_ms": (raw["scan_ms"], "ms"),
        "storage.start_mb": (c0["cached_mb"], "MB"),
        "storage.end_mb": (c1["cached_mb"], "MB"),
        "jvm.gc_ms": (c1["gc_ms"] - c0["gc_ms"], "ms"),
        "jvm.gc_count": (c1["gc_count"] - c0["gc_count"], "count"),
        "codegen.compiles": (c1["compiles"] - c0["compiles"], "count"),
        "codegen.compile_ms": (c1["compile_ms"] - c0["compile_ms"], "ms"),
        "driver.py_cpu_s": (c1["py_cpu_s"] - c0["py_cpu_s"], "s"),
        "trace.latency_ms": (e2e["latency_ms"][0], "ms"),
        "trace.spans": (len(tracer.spans), "count"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the engine comes from this checkout; without it there is nothing to
    # measure, and no result may be printed
    if not os.path.isfile(os.path.join(ROOT, "vector_db_from_scratch_spark", "__init__.py")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    _isolate(run_dir)
    sys.path[:0] = [HERE, ROOT]
    from tracing import Recorder, Tracer, log

    data_root = os.path.join(WORK, "data")
    os.makedirs(data_root, exist_ok=True)
    tracer = Tracer(bool(args.trace))
    rec = Recorder(tracer)
    wl = importlib.import_module(f"{args.workload}_wl").Workload(data_root, args.seed, rec)
    log(f"{args.workload} seed {args.seed}: inputs ready")
    sess = Session()
    try:
        raw = measure(wl, sess, rec, tracer, args.seconds)
        metrics = end_to_end(raw, rec)
        if args.trace:
            metrics = per_layer(raw, rec, tracer, wl, metrics)
    finally:
        sess.close()
        shutil.rmtree(run_dir, ignore_errors=True)
    log("session closed")

    detail = {
        "settings": SETTINGS, "workload": args.workload, "seed": args.seed,
        "setup_s": raw["setup_s"], "cold_s": raw["cold_s"], "units": raw["units"],
        "units_s": raw["units_s"], "timed_s": raw["timed_s"],
        "samples_ms": {op: [round((c + e) * 1e3, 1) for c, e in v] for op, v in rec.samples.items()},
        **wl.detail, "errors": rec.errors,
    }
    if args.trace:
        trace_dir = os.path.join(WORK, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
        tracer.write(path, {"detail": detail})
        log(f"trace written to {path}")
    print(json.dumps(detail), file=sys.stderr)
    print(json.dumps({
        "correct": rec.failed == 0,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
