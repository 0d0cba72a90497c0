"""A 20-step entity write sequence (perfbench's write step: add 100 chunks,
update one embedding, delete one chunk), then read-after-write and
end-state checks, on perfbench's pinned session settings. Prints one JSON
line with the per-step write times.

Usage: python write_sequence_20steps.py <checkout root> <seed> [steps]
(run it against the parent and the change checkout in turn)."""
import json, os, sys, time, tempfile

root, seed = sys.argv[1], int(sys.argv[2])
steps = int(sys.argv[3]) if len(sys.argv) > 3 else 20
work = tempfile.mkdtemp(prefix="seq20-")
os.environ.update({"SPARK_GRAFT_CPUS": "2", "SPARK_DRIVER_MEMORY": "2g",
                   "SPARK_GRAFT_SHUFFLE_PARTITIONS": "32", "SPARK_GRAFT_AQE": "true",
                   "SPARK_GRAFT_ARTIFACT_DIR": os.path.join(work, "a"),
                   "SPARK_WAREHOUSE_DIR": os.path.join(work, "w")})
sys.path[:0] = [os.path.join(root, "perfbench"), root]
import entity_wl
from tracing import Recorder, Tracer
from vector_db_from_scratch_spark.session import get_spark

spark = get_spark("seq20")
rec = Recorder(Tracer(False))
wl = entity_wl.Workload(os.path.join(work, "data"), seed, rec)
wl.build(spark)
wl._sequence(spark, 1)  # warm-up
rec.timing = True
t0 = time.perf_counter()
wl._sequence(spark, steps)
total = time.perf_counter() - t0
rec.timing = False
wl.finish(spark)
w = [c + e for c, e in rec.samples["write"]]
print(json.dumps({"root": root, "seed": seed, "steps": steps, "total_s": total,
                  "write_ms": [round(x * 1e3, 1) for x in w],
                  "last_over_first": w[-1] / w[0],
                  "search_after_write_ms": [round((c + e) * 1e3, 1) for c, e in rec.samples["search_after_write"]],
                  "attempted": rec.attempted, "failed": rec.failed, "errors": rec.errors}))
spark.stop()
