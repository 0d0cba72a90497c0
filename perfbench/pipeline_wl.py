"""``pipeline`` workload: a named slice of registry queries.

QUERIES are ``__spark_entry__.queries()`` entries over a generated
sf-shaped directory. They cover the layers the entity store workloads never
touch, one query each: a TPC-H scan and aggregate, event windows, a sketch
over the shared hashed events frame, the MinHash dedup artifacts, the IVF
cell assignment, column statistics and a streaming drain.

Set-up is the session start alone. The warm-up pass is the cold pass:
empty ``_memo``, cleared cache, the named ``builds.build_specs()`` BUILDERS,
then every query once with its result collected. Each timed round is a warm
pass with every query written to the noop sink. The streaming drain runs
last and through ``__wrapped__``, so every pass drains the stream again
instead of reusing the memoized result. The end checks compare each cold
result with the query's ``oracle_sql()`` answer on DuckDB, through
tools/check.py. Work is counted in queries answered.
"""

from __future__ import annotations

import os
import sys
import time

import datagen

SF = 0.02
QUERIES = (
    "tpch_pricing_summary",
    "window_tumbling_events",
    "sketch_hll_distinct",
    "dedup_minhash_lsh",
    "ivf_knn",
    "maintenance_column_stats",
    "stream_tumbling_drained",
)
BUILDERS = (
    "sketch_hashed_events",
    "shingle_index",
    "shingle_sets",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "ivf_cell_assignment",
)


def _checker():
    """tools/check.py: the repository's own Spark-vs-DuckDB comparison."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(root, "tools"))
    import check

    return check


class Workload:
    def __init__(self, data_root: str, seed: int, rec):
        import __spark_entry__

        self.rec = rec
        self.sf_dir = datagen.sf_dir(data_root, seed, SF)
        self.fns = dict(__spark_entry__.queries())
        self.fns["stream_tumbling_drained"] = self.fns["stream_tumbling_drained"].__wrapped__
        self.results: dict = {}
        self.detail: dict = {"builds_s": {}, "cold_ms": {}}

    def build(self, spark) -> None:
        pass

    def builds_s(self, build_s: list[float]) -> float:
        return sum(self.detail["builds_s"].values())

    def cold(self, spark) -> None:
        from vector_db_from_scratch_spark import builds
        from vector_db_from_scratch_spark.operators import _memo

        _memo.clear()
        spark.catalog.clearCache()
        specs = dict(builds.build_specs())
        for name in BUILDERS:
            t0 = time.perf_counter()
            self.rec.op(f"builds.{name}", lambda: builds._force(specs[name](spark, self.sf_dir)))
            self.detail["builds_s"][name] = time.perf_counter() - t0
        for name in QUERIES:
            t0 = time.perf_counter()
            self.results[name] = self.rec.op(name, lambda: self.fns[name](spark, self.sf_dir),
                                             lambda df: df.toPandas())
            self.detail["cold_ms"][name] = (time.perf_counter() - t0) * 1e3

    def timed(self, spark, seconds: float) -> tuple[int, float]:
        """Warm passes for ``seconds``, at least one; returns the queries
        answered and the wall time of the passes."""
        noop = lambda df: df.write.format("noop").mode("overwrite").save()
        answered, t0 = 0, time.perf_counter()
        while answered == 0 or time.perf_counter() - t0 < seconds:
            self.rec.tracer.request()
            for name in QUERIES:
                self.rec.op(name, lambda: self.fns[name](spark, self.sf_dir), noop)
            answered += len(QUERIES)
        return answered, time.perf_counter() - t0

    def finish(self, spark) -> None:
        import __spark_entry__

        check = _checker()
        sql = __spark_entry__.oracle_sql()
        con = check.duck_connection(self.sf_dir)
        try:
            for name, got in self.results.items():
                if got is None:
                    continue
                want = con.execute(sql[name]).fetchdf()
                ok, msg = check.frames_equal(check.normalize(got), check.normalize(want))
                self.rec.verify(name, [] if ok else [msg])
        finally:
            con.close()

    def scan_table(self, spark):
        from vector_db_from_scratch_spark.sources.tables import load_table

        emb = load_table(spark, self.sf_dir, "embeddings").cache()
        emb.count()
        return emb, emb.select("embedding").first()["embedding"]
