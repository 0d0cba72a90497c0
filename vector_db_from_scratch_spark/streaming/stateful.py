"""Custom stateful streaming operator via ``applyInPandasWithState``:
streaming first-occurrence tracking / dedup per key.

This is the §2.10 north-star extension shape: arbitrary per-key state the
built-in windowed aggregations can't express (the reference has no
streaming surface at all). The state store scales horizontally with
executors; keys shuffle once to their owning state partition.

Semantics: for each (user_id, event_type) group, maintain the first-seen
event_id (minimum across all micro-batches) and a running count -- i.e. a
streaming dedup where only the canonical first event survives. After
draining all input, results must equal the batch groupBy (tested).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .windows import events_stream, memoize_drain

OUTPUT_SCHEMA = "user_id long, event_type string, first_event_id long, n long"
STATE_SCHEMA = "first_event_id long, n long"


def _track_first(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.exists:
        first_id, n = state.get
    else:
        first_id, n = None, 0
    for pdf in pdfs:
        if not len(pdf):
            continue
        # .values.min(): numpy path, ~5x cheaper than Series.min -- this
        # body runs once per (user, event_type) group per micro-batch
        batch_min = int(pdf["event_id"].values.min())
        first_id = batch_min if first_id is None else min(first_id, batch_min)
        n += len(pdf)
    state.update((first_id, n))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "event_type": [key[1]],
            "first_event_id": [first_id],
            "n": [n],
        }
    )


def first_event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_stream(spark, sf_dir)
    return (
        ev.groupBy("user_id", "event_type")
        .applyInPandasWithState(
            _track_first,
            OUTPUT_SCHEMA,
            STATE_SCHEMA,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


def run_first_event_once(spark: SparkSession, sf_dir: str, name: str = "t_first") -> DataFrame:
    from .windows import drain_conf

    # unlike the windowed-agg drains (state-store overhead => few
    # partitions), this drain's cost is per-GROUP Python work in
    # applyInPandasWithState, so it wants parallelism -- but bounded:
    # past ~16 partitions the per-partition python-worker/state-store
    # overhead eats the gain (r11 sweep at sf0.1 on local[32]: 4 parts
    # 7.7s, 8 -> 4.3s, 16 -> 3.2s, 32 -> 3.3s), so cap at 16 and keep
    # one-per-core below that (8-core boxes keep their measured 8)
    parts = min(16, spark.sparkContext.defaultParallelism)
    with drain_conf(spark, partitions=parts):
        q = (
            first_event_stream(spark, sf_dir)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
    return spark.sql(f"SELECT * FROM {name}")


@memoize_drain
def first_event_drained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom stateful operator under the oracle gate: drain the
    applyInPandasWithState stream, then take each key's FINAL state (update
    mode re-emits a key per micro-batch; first_event_id only decreases and
    n only grows, so min/max select the last update without caring how
    many batches ran). Oracle = the batch groupBy the state converges to.
    """
    from pyspark.sql import functions as F

    res = run_first_event_once(spark, sf_dir, name="t_gate_stateful")
    return (
        res.groupBy("user_id", "event_type")
        .agg(
            F.min("first_event_id").alias("first_event_id"),
            F.max("n").alias("n"),
        )
        .orderBy("user_id", "event_type")
    )


def first_event_drained_oracle() -> str:
    return """
SELECT user_id, event_type, min(event_id) AS first_event_id, count(*) AS n
FROM events
GROUP BY user_id, event_type
ORDER BY user_id, event_type
""".strip()


# --------------------------------------------------------------------------
# Streaming KMV maintenance: the distinct-count sketch kept current as data
# arrives, with state BOUNDED at k hashes per shard -- the sketch family
# member that is NOT a pure groupBy aggregation (bottom-k has no built-in
# streaming agg), so it runs as the custom-stateful shape. Each shard's
# state is its k smallest distinct hashes (bottom-k absorbs inserts:
# bottom_k(bottom_k(S1) ∪ S2) = bottom_k(S1 ∪ S2)); the read path merges
# shard states by k-smallest-of-union -- exactly the gated rollup protocol
# of sketch_kmv_merge_shards, now fed by a continuously-maintained state
# store instead of a batch scan. Update-mode emissions across micro-batches
# union safely: every emitted hash is a real corpus hash and each shard's
# final emission contains its k smallest, so the global bottom-k of all
# emissions equals the true global bottom-k.
# --------------------------------------------------------------------------

KMV_STREAM_SHARDS = 8

KMV_OUTPUT_SCHEMA = "shard long, hs array<long>"
KMV_STATE_SCHEMA = "hs array<long>"


def _bottom_k(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    from ..operators.kmv import K_MERGE

    cur = set(state.get[0]) if state.exists else set()
    for pdf in pdfs:
        if len(pdf):
            cur.update(int(v) for v in pdf["h"].values)
    top = sorted(cur)[: K_MERGE]
    state.update((top,))
    yield pd.DataFrame({"shard": [key[0]], "hs": [top]})


KMV_GROUP_OUTPUT_SCHEMA = "grp string, shard long, hs array<long>"


def _bottom_k_grouped(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    from ..operators.kmv import K_MERGE

    cur = set(state.get[0]) if state.exists else set()
    for pdf in pdfs:
        if len(pdf):
            cur.update(int(v) for v in pdf["h"].values)
    top = sorted(cur)[:K_MERGE]
    state.update((top,))
    yield pd.DataFrame({"grp": [key[0]], "shard": [key[1]], "hs": [top]})


def kmv_by_group_ingest_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..functions.hashing import hash60

    ev = events_stream(spark, sf_dir)
    hashed = ev.select(
        F.col("event_type").alias("grp"),
        hash60(F.col("user_id").cast("string")).alias("h"),
    )
    return (
        hashed.withColumn("shard", F.col("h") % KMV_STREAM_SHARDS)
        .groupBy("grp", "shard")
        .applyInPandasWithState(
            _bottom_k_grouped,
            KMV_GROUP_OUTPUT_SCHEMA,
            KMV_STATE_SCHEMA,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


@memoize_drain
def kmv_by_group_ingest_drained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-group KMV rollup maintained CONTINUOUSLY: bounded bottom-k
    state per (group, shard) -- the per-source data-quality job running
    as a stream instead of a batch scan. The read path merges each
    group's shard states by k-smallest-of-union (the gated
    kmv_by_group_merge protocol) and emits the same (grp, k, kth_min,
    est_distinct, exact_distinct, rel_err) rows as the batch
    sketch_kmv_by_group -- oracle shared VERBATIM. The per-group
    bottom-k after the drain rides Spark's WindowGroupLimit, so each
    mapper ships at most k rows per group."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..operators.kmv import HASH_SPACE, K_MERGE
    from ..sources.tables import load_table
    from .windows import drain_conf

    with drain_conf(spark, partitions=KMV_STREAM_SHARDS):
        q = (
            kmv_by_group_ingest_stream(spark, sf_dir)
            .writeStream.format("memory")
            .queryName("t_gate_kmv_grp_ingest")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
    emitted = spark.sql("SELECT * FROM t_gate_kmv_grp_ingest")
    w = Window.partitionBy("grp").orderBy("h")
    merged = (
        emitted.select("grp", F.explode("hs").alias("h"))
        .distinct()
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= K_MERGE)
    )
    agg = merged.groupBy("grp").agg(
        F.count(F.lit(1)).alias("k"), F.max("h").alias("kth_min")
    )
    ev = load_table(spark, sf_dir, "events")
    exact = ev.groupBy(F.col("event_type").alias("grp")).agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    est = F.when(F.col("k") < K_MERGE, F.col("k").cast("double")).otherwise(
        (F.col("k") - 1).cast("double") * F.lit(HASH_SPACE) / F.col("kth_min")
    )
    return (
        agg.join(exact, "grp")
        .select(
            "grp",
            "k",
            "kth_min",
            F.round(est, 6).alias("est_distinct"),
            "exact_distinct",
            F.round(
                F.abs(est - F.col("exact_distinct")) / F.col("exact_distinct"), 6
            ).alias("rel_err"),
        )
        .orderBy("grp")
    )


def kmv_ingest_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..functions.hashing import hash60

    ev = events_stream(spark, sf_dir)
    hashed = ev.select(hash60(F.col("user_id").cast("string")).alias("h"))
    return (
        hashed.withColumn("shard", F.col("h") % KMV_STREAM_SHARDS)
        .groupBy("shard")
        .applyInPandasWithState(
            _bottom_k,
            KMV_OUTPUT_SCHEMA,
            KMV_STATE_SCHEMA,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


@memoize_drain
def kmv_ingest_drained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drained streaming KMV == the batch sketch at the same k: merge the
    per-shard bottom-k states (k-smallest of the exploded, deduplicated
    union) and emit the same (k, kth_min, est_distinct, exact_distinct,
    rel_err) row as the batch sketch -- oracle shared with kmv_distinct at
    k = K_MERGE. The exact count exists only to gate the error."""
    from pyspark.sql import functions as F

    from ..operators.kmv import HASH_SPACE, K_MERGE
    from ..sources.tables import load_table
    from .windows import drain_conf

    with drain_conf(spark, partitions=KMV_STREAM_SHARDS):
        q = (
            kmv_ingest_stream(spark, sf_dir)
            .writeStream.format("memory")
            .queryName("t_gate_kmv_ingest")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
    emitted = spark.sql("SELECT * FROM t_gate_kmv_ingest")
    merged = (
        emitted.select(F.explode("hs").alias("h"))
        .distinct()
        .orderBy("h")
        .limit(K_MERGE)
    )
    ev = load_table(spark, sf_dir, "events")
    est = F.when(F.col("k") < K_MERGE, F.col("k").cast("double")).otherwise(
        (F.col("k") - 1).cast("double") * F.lit(HASH_SPACE) / F.col("kth_min")
    )
    return (
        merged.agg(F.count(F.lit(1)).alias("k"), F.max("h").alias("kth_min"))
        .crossJoin(ev.agg(F.countDistinct("user_id").alias("exact_distinct")))
        .select(
            "k",
            "kth_min",
            F.round(est, 6).alias("est_distinct"),
            "exact_distinct",
            F.round(
                F.abs(est - F.col("exact_distinct")) / F.col("exact_distinct"), 6
            ).alias("rel_err"),
        )
    )


# --------------------------------------------------------------------------
# Streaming k-NN: the retrieval surface maintained CONTINUOUSLY as vectors
# ingest -- the "index + standing query" a vector store actually runs,
# where a monitored query's top-k must stay current without rescanning the
# corpus. Top-k is not a pure aggregation, so (exactly like KMV's bottom-k)
# each shard holds its k smallest (distance, vec_id) pairs in
# applyInPandasWithState; the read path takes the k smallest of the union
# of shard states. Correctness of merging stale update-mode snapshots: a
# pair ever evicted from its shard had k in-shard better pairs, so >= k
# globally better pairs exist and the evicted pair cannot re-enter the
# global top-k -- the same monotone-dominance argument the KMV drain uses.
# --------------------------------------------------------------------------

KNN_STREAM_SHARDS = 8
KNN_STREAM_K = 10
KNN_OUTPUT_SCHEMA = "shard long, ds array<double>, ids array<long>"
KNN_STATE_SCHEMA = "ds array<double>, ids array<long>"


def _bottom_k_pairs(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    pairs: list[tuple[float, int]] = []
    if state.exists:
        ds, ids = state.get
        pairs = list(zip(ds, ids))
    for pdf in pdfs:
        if len(pdf):
            pairs.extend(
                zip(pdf["distance"].tolist(), pdf["vec_id"].tolist())
            )
    pairs = sorted(set(pairs))[:KNN_STREAM_K]
    ds = [float(d) for d, _ in pairs]
    ids = [int(v) for _, v in pairs]
    state.update((ds, ids))
    yield pd.DataFrame({"shard": [key[0]], "ds": [ds], "ids": [ids]})


def knn_ingest_stream(
    spark: SparkSession, sf_dir: str, query_vec_id: int = 0
) -> DataFrame:
    from pyspark.sql import functions as F

    from ..functions.vector import distance_expr
    from ..operators.knn import _example_vectors
    from .windows import embeddings_stream

    qv = _example_vectors(spark, sf_dir, [query_vec_id])[query_vec_id]
    vec = embeddings_stream(spark, sf_dir)
    scored = vec.select(
        "vec_id",
        distance_expr("cosine", "embedding", qv).alias("distance"),
        (F.col("vec_id") % KNN_STREAM_SHARDS).alias("shard"),
    )
    return scored.groupBy("shard").applyInPandasWithState(
        _bottom_k_pairs,
        KNN_OUTPUT_SCHEMA,
        KNN_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


@memoize_drain
def knn_ingest_drained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drained streaming top-k == the batch exact scan (oracle shared
    VERBATIM with flat_knn at the same k): the standing retrieval query
    stays exact while the corpus ingests, with per-shard state bounded at
    k pairs no matter how long the stream runs."""
    from pyspark.sql import functions as F

    from .windows import drain_conf

    with drain_conf(spark, partitions=KNN_STREAM_SHARDS):
        q = (
            knn_ingest_stream(spark, sf_dir)
            .writeStream.format("memory")
            .queryName("t_gate_knn_ingest")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
    emitted = spark.sql("SELECT * FROM t_gate_knn_ingest")
    return (
        emitted.select(F.explode(F.arrays_zip("ds", "ids")).alias("p"))
        .select(F.col("p.ds").alias("distance"), F.col("p.ids").alias("vec_id"))
        .distinct()
        .orderBy("distance", "vec_id")
        .limit(KNN_STREAM_K)
        .select("vec_id", "distance")
    )
