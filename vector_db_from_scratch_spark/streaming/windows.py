"""Windowed event-time analytics over the ``events`` table -- batch AND
Structured Streaming forms of the same logical queries.

The reference has NO streaming surface (SURVEY.md §2.10); this module is the
north-star extension: the reference's incrementally-maintained counters
(entities.py:148-166, O8) generalize to streaming stateful aggregation.

Each window shape exists twice:
  - a *batch* DataFrame (oracle-checked against DuckDB -- tumbling/sliding
    windows re-expressed as epoch-aligned bucket math, session windows as
    gaps-and-islands SQL), and
  - a *streaming* builder over the same files via ``readStream`` with a
    watermark (exercised in tests with processAllAvailable; results must
    equal the batch form -- the Dataflow-model equivalence).

Scale notes: tumbling/sliding aggs shuffle once on (window, keys) with
partial aggregation; session windows shuffle on user_id -- the state-store
pattern that scales horizontally with executors in real deployments.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import _memo
from ..operators.relational import MICRO, dsum, osum
from ..sources.tables import load_table

GAP = "5 minutes"

# Streaming state-store instance count is fixed by shuffle partitions at
# query start, and every micro-batch pays per-instance setup/commit. The
# batch-side 32 is far above what these bounded drains need; pinning a
# small value for the drain cuts the fixed overhead without changing any
# result (same rows, fewer state partitions). On a real cluster the
# streaming job picks its own shuffle-partition setting at deploy time --
# this mirrors that, scoped to the drain. Measured at sf0.1: the windowed
# drains run 8 -> 4 -> 2 partitions at 1.45s -> 0.98s -> 0.80s and the
# two-sided interval join at 2.66s -> 2.04s -> 1.93s; 4 keeps a margin of
# parallelism for only ~0.15s over the floor.
DRAIN_SHUFFLE_PARTITIONS = 4


def memoize_drain(fn):
    """Memoize a gated drain per (application, sf_dir).

    A drained stream is a derived artifact: in production the streaming
    query runs CONTINUOUSLY and writes a sink; batch consumers read the
    sink table -- they never re-execute the stream per read. The bounded
    local drain stands in for that continuous query, so re-running it for
    every repeat call re-pays pure state-store/micro-batch fixed overhead
    to recompute a result that is deterministic by construction (every
    drain here is hash-gated against a batch oracle). First call per key
    performs the real drain (watermarks, state store, sink) and pins the
    result with .cache(); repeat calls read the pinned sink output --
    the same discipline as assign_cells / the shingle artifacts. The
    undecorated drain stays reachable as ``fn.__wrapped__`` for tests that
    must re-execute the engine.
    """
    import functools

    @_memo.per_app
    @functools.wraps(fn)
    def drained(spark: SparkSession, sf_dir: str) -> DataFrame:
        out = fn(spark, sf_dir).cache()
        out.count()  # materialize now: the memory-sink table is transient
        return out

    drained.__wrapped__ = fn
    return drained


@contextmanager
def drain_conf(spark: SparkSession, partitions: int = DRAIN_SHUFFLE_PARTITIONS):
    """Scope shuffle partitions to a stream drain. Windowed-agg drains
    want FEW partitions (state-store setup/commit dominates); the
    applyInPandasWithState drain wants MANY (per-group Python overhead
    dominates, so parallelism wins) -- callers pick."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(partitions))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming source over the same parquet file (file-source directory
    listing; schema from the batch read, including the ns->us ts shim)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = (
        spark.readStream.schema(
            spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
        )
        .format("parquet")
        # file streaming sources require a directory: stream the sf dir,
        # restricted to the events file
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    return _event_time(raw)


def _event_time(raw: DataFrame) -> DataFrame:
    """Normalize ts to TIMESTAMP for watermarking: a nanos file arrives as
    LongType (ns->us shim), a plain timestamp[us] file as TIMESTAMP_NTZ --
    and ``withWatermark`` accepts only TIMESTAMP proper
    (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE). The session timezone is pinned
    to UTC (session.py), so the NTZ->instant reinterpretation is the
    identity and streaming window bounds equal the batch/NTZ forms."""
    from pyspark.sql.types import LongType, TimestampNTZType

    if isinstance(raw.schema["ts"].dataType, LongType):
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(raw.schema["ts"].dataType, TimestampNTZType):
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


# --------------------------------------------------------------------------
# Tumbling window
# --------------------------------------------------------------------------

def tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value")).alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


def tumbling_counts_oracle() -> str:
    return f"""
SELECT date_trunc('hour', ts)::TIMESTAMP AS window_start, event_type,
       count(*) AS n, {osum('value')} AS total_value
FROM events
GROUP BY 1, 2
ORDER BY window_start, event_type
""".strip()


def tumbling_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin with a watermark for late-data bounds."""
    ev = events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )


# --------------------------------------------------------------------------
# Sliding window (1 hour window, 30 minute slide -> each event in 2 windows)
# --------------------------------------------------------------------------

def sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value")).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "n", "total_value")
        .orderBy("window_start")
    )


def sliding_counts_oracle() -> str:
    # each event belongs to the two epoch-aligned 30-min slots covering it
    # (avoid epoch()::BIGINT -- DuckDB's double->int cast rounds, not floors)
    slot = (
        "(date_trunc('hour', ts) + CASE WHEN extract(minute FROM ts) >= 30 "
        "THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END)::TIMESTAMP"
    )
    return f"""
WITH slots AS (
  SELECT unnest([{slot}, {slot} - INTERVAL 30 MINUTE]) AS window_start, value
  FROM events)
SELECT window_start, count(*) AS n, {osum('value')} AS total_value
FROM slots
GROUP BY window_start
ORDER BY window_start
""".strip()


# --------------------------------------------------------------------------
# Session window (5-minute gap, per user)
# --------------------------------------------------------------------------

def session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.session_window("ts", GAP).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum(F.col("value")).alias("total_value"))
        .select(
            F.col("user_id"),
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
        .orderBy("user_id", "session_start")
    )


def session_stats_oracle() -> str:
    """Gaps-and-islands: a new session starts when the gap from the previous
    event (per user) is >= 5 minutes; session end = last event + gap
    (Spark's session_window end semantics)."""
    return f"""
WITH marked AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   >= INTERVAL 5 MINUTE OR
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events),
sessions AS (
  SELECT user_id, event_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked)
SELECT user_id,
       min(ts)::TIMESTAMP AS session_start,
       (max(ts) + INTERVAL 5 MINUTE)::TIMESTAMP AS session_end,
       count(*) AS n_events,
       {osum('value')} AS total_value
FROM sessions
GROUP BY user_id, sid
ORDER BY user_id, session_start
""".strip()


def session_stats_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    return (
        ev.groupBy(F.session_window("ts", GAP).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


# --------------------------------------------------------------------------
# Incremental counter maintenance (O8 analog): streaming running counts
# --------------------------------------------------------------------------

def counter_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's document_count/chunk_count maintenance re-expressed
    as a streaming stateful aggregation (update mode)."""
    ev = events_stream(spark, sf_dir)
    return ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


@memoize_drain
def counter_drained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O8 under the gate: the incremental counter-maintenance aggregation
    (the streaming analog of the reference's stored document_count /
    chunk_count, vector_db/entities.py:93-99) drained to its final state
    and hash-matched against the batch recount -- the Dataflow guarantee
    that incremental state equals recomputation."""
    res = run_stream_once(counter_stream(spark, sf_dir), "t_gate_counter")
    return res.orderBy("event_type")


def counter_drained_oracle() -> str:
    return """
SELECT event_type, count(*) AS n
FROM events
GROUP BY event_type
ORDER BY event_type
""".strip()


def run_stream_once(df: DataFrame, query_name: str) -> DataFrame:
    """Drain all available input through a memory sink and return the result
    table (complete mode -- used by tests to compare with batch)."""
    with drain_conf(df.sparkSession):
        q = (
            df.writeStream.format("memory")
            .queryName(query_name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
    return df.sparkSession.sql(f"SELECT * FROM {query_name}")


# --------------------------------------------------------------------------
# Rate-limited file replay: many files + maxFilesPerTrigger drives REAL
# multi-batch execution, so the watermark actually advances between
# micro-batches and state-store reaping is exercised (a single-file stream
# completes in one batch and never moves its watermark).
# --------------------------------------------------------------------------

def replay_events_dir(
    spark: SparkSession, sf_dir: str, out_dir: str, n_files: int = 4
) -> None:
    """Split events into n_files time-ordered parquet files -- the replay
    fixture. Each contiguous time slice is written as a SEPARATE job with a
    small delay: the file stream source orders equal-option files by
    modification time, and a single repartitionByRange write stamps every
    part file with the same mtime, leaving arrival order -- and therefore
    watermark advancement -- nondeterministic. Sequential writes pin
    in-order arrival."""
    import time as _time

    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    sliced = ev.withColumn(
        "_slice", F.ntile(n_files).over(W.orderBy("ts", "event_id"))
    )
    for i in range(1, n_files + 1):
        (
            sliced.filter(F.col("_slice") == i)
            .drop("_slice")
            .coalesce(1)
            .write.mode("overwrite" if i == 1 else "append")
            .parquet(out_dir)
        )
        _time.sleep(0.1)  # distinct mtimes -> deterministic arrival order


@_memo.per_app
def restart_replay_files(
    spark: SparkSession, sf_dir: str, n_files: int = 2
) -> list[str]:
    """Arrival-ordered replay slice files for the checkpoint-restart
    drains, built ONCE per (application, sf_dir). The four restart gates
    (tumbling/session/dedup window state + the upsert sink) consume
    byte-identical fixtures -- the same events table split into the same
    time-ordered slices -- but each built its own copy (an ntile window
    over the full table + sequential coalesce(1) writes, ~1s apiece).
    Consumers only COPY the files into their private stream dirs, so the
    shared fixture is read-only; the join-restart gate keeps its own
    anchored split (different slice boundary by construction)."""
    import glob as _glob

    from ..sources.artifacts import scratch_dir

    out = scratch_dir("restart-replay-")
    replay_events_dir(spark, sf_dir, out, n_files=n_files)
    return sorted(
        _glob.glob(os.path.join(out, "part-*.parquet")), key=os.path.getmtime
    )  # mtime IS the arrival order (sequential writes, 0.1s apart)


def events_stream_from(spark: SparkSession, path: str, files_per_trigger: int = 1) -> DataFrame:
    """File-source stream over a replay directory, rate-limited to
    files_per_trigger per micro-batch."""
    schema = spark.read.parquet(path).schema
    return _event_time(
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", str(files_per_trigger))
        .load(path)
    )


def run_stream_collect_progress(df: DataFrame, query_name: str, checkpoint_dir: str | None = None):
    """Drain a rate-limited stream and return (result_df, progress list) --
    progress entries carry per-batch watermark + state-store metrics.
    Pass ``checkpoint_dir`` to make the run's batch/watermark history
    durably inspectable via :func:`checkpoint_batches` (recentProgress is
    an async bounded buffer and drops entries under load)."""
    w = df.writeStream.format("memory").queryName(query_name)
    if checkpoint_dir is not None:
        w = w.option("checkpointLocation", checkpoint_dir)
    q = w.outputMode("complete").trigger(availableNow=True).start()
    q.processAllAvailable()
    progress = [p for p in q.recentProgress]
    q.stop()
    return df.sparkSession.sql(f"SELECT * FROM {query_name}"), progress


def checkpoint_batches(checkpoint_dir: str) -> list[dict]:
    """Authoritative per-batch record from the checkpoint's ``offsets`` log:
    one entry per committed micro-batch with its event-time watermark (ms).
    Unlike recentProgress this is the durable source of truth the engine
    itself recovers from."""
    import json

    out = []
    off_dir = os.path.join(checkpoint_dir, "offsets")
    names = [n for n in os.listdir(off_dir) if n.isdigit()]  # skip .crc sidecars
    for name in sorted(names, key=int):
        with open(os.path.join(off_dir, name)) as f:
            lines = f.read().splitlines()
        # v1 format: line 0 = version, line 1 = {"batchWatermarkMs": ...}
        meta = json.loads(lines[1])
        out.append({"batch_id": int(name), "watermark_ms": meta.get("batchWatermarkMs", 0)})
    return out


# --------------------------------------------------------------------------
# Stream-static enrichment join: the streaming side joins a static
# dimension each micro-batch (broadcast per batch -- no stream-stream state)
# --------------------------------------------------------------------------

def enriched_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_stream(spark, sf_dir)
    from ..sources.tables import arrow_local_df

    weights = arrow_local_df(
        spark,
        {"event_type": ["click", "view", "purchase", "signup", "error"],
         "weight": [1.0, 0.5, 10.0, 5.0, 0.0]},
        "event_type string, weight double",
    )
    return (
        ev.join(F.broadcast(weights), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("value") * F.col("weight")).alias("weighted_value"),
        )
    )


# --------------------------------------------------------------------------
# Streaming dedup: dropDuplicates with watermark (state bounded in time)
# --------------------------------------------------------------------------

def dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once-per-key event stream: duplicates of (user_id,
    event_type) within the watermark horizon are dropped -- the streaming
    analog of exact dedup, with state the watermark can reap."""
    ev = events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    return ev.dropDuplicates(["user_id", "event_type"])


@memoize_drain
def dedup_drained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The built-in streaming dedup operator (dropDuplicates over a
    watermarked stream -- bounded state, reaped as event time advances)
    under the oracle gate. Which physical row survives per key is
    batch-arrival-dependent, so the gated result is the DETERMINISTIC
    reduction: the per-user count of distinct first-seen event types --
    invariant to which duplicate won. Drained in append mode (dedup is not
    an aggregation; complete mode does not apply)."""
    deduped = dedup_stream(spark, sf_dir).select("user_id", "event_type")
    with drain_conf(spark):
        q = (
            deduped.writeStream.format("memory")
            .queryName("t_gate_dedup")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
    # Gate invariant: the drain must ingest everything in ONE micro-batch.
    # With multiple batches, a key whose first occurrence sits behind the
    # advanced watermark would be dropped as late and under-count vs the
    # batch oracle. The single-file source guarantees one batch; assert so
    # a source-config change (maxFilesPerTrigger, multi-file dirs) fails
    # loudly here instead of hash-mismatching downstream.
    data_batches = sum(1 for p in q.recentProgress if p.numInputRows > 0)
    if data_batches > 1:
        raise AssertionError(
            f"dedup drain ran {data_batches} micro-batches; the watermark "
            "no-late-drop gate invariant requires exactly one"
        )
    res = spark.sql("SELECT * FROM t_gate_dedup")
    return (
        res.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_event_types"))
        .orderBy("user_id")
    )


def dedup_drained_oracle() -> str:
    return """
SELECT user_id, count(DISTINCT event_type) AS n_event_types
FROM events
GROUP BY user_id
ORDER BY user_id
""".strip()


@memoize_drain
def tumbling_counts_drained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING tumbling aggregation, drained through a memory sink
    and returned as a batch DataFrame -- this puts the streaming engine
    itself (watermark, state store, availableNow trigger) under the
    DuckDB-oracle gate, not just its batch twin. Window starts surface as
    strings: the stream's event-time column is TIMESTAMP (UTC-pinned
    session), the oracle's is naive, and text is the one rendering both
    engines' pandas bridges agree on."""
    res = run_stream_once(tumbling_counts_stream(spark, sf_dir), "t_gate_tumble")
    return res.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n",
    ).orderBy("window_start", "event_type")


def tumbling_counts_drained_oracle() -> str:
    return """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, count(*) AS n
FROM events
GROUP BY 1, 2
ORDER BY window_start, event_type
""".strip()


@memoize_drain
def session_stats_drained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows -- the most stateful of the streaming aggregations
    (dynamic per-key window MERGING, not fixed buckets) -- drained through
    a memory sink and hash-checked against the gaps-and-islands SQL
    oracle. Window bounds surface as strings for the same dtype-bridge
    reason as :func:`tumbling_counts_drained`."""
    res = run_stream_once(session_stats_stream(spark, sf_dir), "t_gate_session")
    return res.select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        "n_events",
    ).orderBy("user_id", "session_start")


def session_stats_drained_oracle() -> str:
    return f"""
WITH marked AS (
  SELECT user_id, event_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   >= INTERVAL 5 MINUTE OR
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events),
sessions AS (
  SELECT user_id, event_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(max(ts) + INTERVAL 5 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
       count(*) AS n_events
FROM sessions
GROUP BY user_id, sid
ORDER BY user_id, session_start
""".strip()


def sliding_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of :func:`sliding_counts`: hopping windows (1 h / 30
    min slide -- every event feeds two window states) with a watermark."""
    ev = events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value")).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "n", "total_value")
    )


@memoize_drain
def sliding_counts_drained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming hopping-window aggregation drained through a memory
    sink -- overlapping-window state (two live states per event) under the
    DuckDB gate, completing the drained trio (tumbling / session /
    sliding). Window starts surface as strings per the dtype-bridge note
    on :func:`tumbling_counts_drained`."""
    res = run_stream_once(sliding_counts_stream(spark, sf_dir), "t_gate_slide")
    return res.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "n",
        "total_value",
    ).orderBy("window_start")


def sliding_counts_drained_oracle() -> str:
    slot = (
        "(date_trunc('hour', ts) + CASE WHEN extract(minute FROM ts) >= 30 "
        "THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END)::TIMESTAMP"
    )
    return f"""
WITH slots AS (
  SELECT unnest([{slot}, {slot} - INTERVAL 30 MINUTE]) AS window_start, value
  FROM events)
SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
       count(*) AS n, {osum('value')} AS total_value
FROM slots
GROUP BY window_start
ORDER BY window_start
""".strip()


# --------------------------------------------------------------------------
# Streaming index ingestion: the LSH bucket assignment run as a streaming
# stateful aggregation over arriving vectors -- the index-build side of
# O4/O8 (the reference mutates its bucket map per insert; the engine form
# is a streaming groupBy on the bucket expression, whose final state must
# equal the batch index's occupancy). bucket_expr is a pure SQL expression,
# so it runs unchanged on the stream; the drain's complete-mode result is
# hash-gated against the same SQL oracle as the batch bucket_stats.
# --------------------------------------------------------------------------

def embeddings_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    schema = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).schema
    return (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", "embeddings.parquet")
        .load(sf_dir)
    )


def lsh_ingest_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.lsh import bucket_expr

    vec = embeddings_stream(spark, sf_dir)
    return (
        vec.withColumn("bucket", bucket_expr("embedding"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.min("vec_id").alias("first_vec"),
        )
    )


@memoize_drain
def lsh_ingest_drained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drained streaming LSH ingestion == batch bucket occupancy (the
    Dataflow equivalence applied to index maintenance)."""
    res = run_stream_once(lsh_ingest_stream(spark, sf_dir), "t_gate_lsh_ingest")
    return res.orderBy("bucket")


def lsh_ingest_drained_oracle() -> str:
    from ..operators.lsh import bucket_sql

    return f"""
SELECT {bucket_sql('embedding::DOUBLE[]')} AS bucket,
       count(*) AS n_vectors, min(vec_id) AS first_vec
FROM embeddings
GROUP BY bucket
ORDER BY bucket
""".strip()


def bq_ingest_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension set-bit population of the binary-quantization codes,
    maintained continuously: n_set[dim] counts corpus vectors whose bit
    ``dim`` is 1 under the batch-trained midpoint thresholds
    (operators/bq.py). The monitoring artifact a BQ deployment keeps
    current -- a dimension drifting far from ~50% set means the binarizer
    is mis-centered for the arriving data and codes are losing entropy
    (the re-train trigger). Thresholds enter as literals (train-once,
    monitor-forever), so the stream side is a pure aggregation over an
    exploded (dim, bit) relation -- complete-mode drains it, state bounded
    by DIM rows at any corpus size."""
    from ..operators import bq as bq_mod

    thr = bq_mod.threshold_list(spark, sf_dir)  # train once (memoized)
    vec = embeddings_stream(spark, sf_dir)
    ed = F.col("embedding").cast("array<double>")
    pairs = vec.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).cast("long").alias("dim"),
                        (ed[i] >= F.lit(float(thr[i]))).cast("long").alias("b"),
                    )
                    for i in range(bq_mod.DIM)
                ]
            )
        ).alias("p")
    ).select("p.dim", "p.b")
    return pairs.groupBy("dim").agg(F.sum("b").alias("n_set"))


@memoize_drain
def bq_ingest_drained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drained streaming bit-population == the batch populations computed
    from scratch (the Dataflow equivalence applied to quantizer
    monitoring)."""
    res = run_stream_once(bq_ingest_stream(spark, sf_dir), "t_gate_bq_ingest")
    return res.orderBy("dim")


def bq_ingest_drained_oracle(dim: int = 64) -> str:
    return f"""
WITH mm AS (
  SELECT i, min((embedding::DOUBLE[])[i + 1]) AS mn,
         max((embedding::DOUBLE[])[i + 1]) AS mx
  FROM embeddings, range({dim}) t(i)
  GROUP BY i)
SELECT mm.i AS dim,
       CAST(sum(CASE WHEN (e.embedding::DOUBLE[])[mm.i + 1]
                          >= (mm.mn + mm.mx) / 2.0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_set
FROM embeddings e, mm
GROUP BY mm.i
ORDER BY dim
""".strip()


# --------------------------------------------------------------------------
# Streaming SKETCH maintenance: the deterministic sketch toolkit's
# count-min grid and Bloom bitmap rebuilt as continuous streaming
# aggregations -- the monitoring/runtime-filter artifacts a pipeline
# keeps current as data arrives, not rebuilt in batch. Both are pure
# aggregations (count, bit_or), so complete-mode drains them with no
# watermark, and the drained state must equal the batch sketch EXACTLY
# (same oracle): the Dataflow equivalence applied to sketch rollup.
# --------------------------------------------------------------------------


def cm_ingest_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.countmin import CM_DEPTH, _bucket_expr

    ev = events_stream(spark, sf_dir)
    cells = ev.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row"),
                        _bucket_expr(F.col("user_id"), i).alias("bucket"),
                    )
                    for i in range(CM_DEPTH)
                ]
            )
        ).alias("c")
    ).select("c.row", "c.bucket")
    return cells.groupBy("row", "bucket").agg(F.count(F.lit(1)).alias("counter"))


@memoize_drain
def cm_ingest_drained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drained streaming count-min grid == the batch grid (same oracle as
    sketch_cm_counters): continuous frequency monitoring at 100 TB is
    this aggregation running forever, its state bounded by d x w cells."""
    res = run_stream_once(cm_ingest_stream(spark, sf_dir), "t_gate_cm_ingest")
    return res.orderBy("row", "bucket")


def bloom_ingest_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bloom import BITS_PER_WORD, K_HASHES, _bloom_filter, _pos_expr

    # the filter's m is a sizing PARAMETER (derived from the dimension's
    # key count, a deployment decision); the batch build supplies it and
    # is memoized -- the stream maintains the bitmap under that sizing
    m_bits, _keys, _bits = _bloom_filter(spark, sf_dir)
    schema = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).schema
    raw = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", "orders.parquet")
        .load(sf_dir)
    )
    pos = raw.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.explode(
            F.array(
                *[_pos_expr(F.col("o_orderkey"), i, m_bits) for i in range(K_HASHES)]
            )
        ).alias("pos")
    )
    # bit_or is idempotent, so no distinct is needed before the word OR
    # (the batch twin dedups positions only to shrink its join input)
    return (
        pos.select(
            F.expr(f"pos div {BITS_PER_WORD}").alias("word_idx"),
            F.expr(f"shiftleft(1L, cast(pos % {BITS_PER_WORD} as int))").alias("w"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("w").alias("word"))
    )


@memoize_drain
def bloom_ingest_drained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drained streaming Bloom bitmap == the batch bitmap (same oracle as
    sketch_bloom_bitmap): the join-pruning runtime filter maintained
    continuously as the dimension ingests, instead of rebuilt per run."""
    res = run_stream_once(bloom_ingest_stream(spark, sf_dir), "t_gate_bloom_ingest")
    return res.orderBy("word_idx")


def hist_ingest_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quantiles import N_BINS, _grid_params, _orders_x

    # the (lo, hi, B) grid is a sizing PARAMETER shared by every shard and
    # by the stream (like the Bloom filter's m): the batch build supplies
    # it once; the stream maintains bin counts under that fixed grid
    p = _grid_params(_orders_x(spark, sf_dir)).first()
    schema = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).schema
    raw = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", "orders.parquet")
        .load(sf_dir)
    )
    bin_col = F.least(
        F.floor((F.col("o_totalprice") - F.lit(p["lo"])) / F.lit(p["w"])),
        F.lit(N_BINS - 1),
    ).cast("int")
    return (
        raw.select(bin_col.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_bin"))
    )


@memoize_drain
def hist_ingest_drained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drained streaming histogram == the batch quantile sketch's grid
    (same oracle as sketch_hist_bins): the bin index is the same IEEE
    arithmetic on the same literal (lo, w), so the continuously-maintained
    distribution monitor must reproduce the batch histogram bin for bin.
    State is bounded by B cells regardless of how long the stream runs."""
    res = run_stream_once(hist_ingest_stream(spark, sf_dir), "t_gate_hist_ingest")
    return res.orderBy("bin")


def hll_ingest_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import hash60
    from ..operators.hll import RHO_ZERO, TWO52

    ev = events_stream(spark, sf_dir)
    keyed = ev.select(hash60(F.col("user_id").cast("string")).alias("h"))
    w = F.col("h") % TWO52
    rho = (
        F.when(w == 0, F.lit(RHO_ZERO))
        .otherwise(F.lit(RHO_ZERO) - F.length(F.bin(w)))
        .cast("long")
    )
    return (
        keyed.select(F.expr(f"h div {TWO52}").alias("j"), rho.alias("rho"))
        .groupBy("j")
        .agg(F.max("rho").alias("reg"))
    )


@memoize_drain
def hll_ingest_drained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drained streaming HLL registers == the batch register table (oracle
    hll_registers_oracle): cardinality monitoring at 100 TB is this MAX
    aggregation running forever, state bounded by m = 256 register rows --
    HLL is a pure aggregation, so it streams without custom state (unlike
    KMV's bottom-k, stream_kmv_ingest_drained)."""
    res = run_stream_once(hll_ingest_stream(spark, sf_dir), "t_gate_hll_ingest")
    return res.orderBy("j")


def ams_ingest_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import hash60
    from ..operators.ams import _counter_sums

    ev = events_stream(spark, sf_dir)
    # one digest per row; every sign derives from its bits (the batch
    # family, ams.py:_sign_expr). The counters aggregate as AMS_COUNTERS
    # fused sum expressions in ONE pass -- the batch family's
    # _counter_sums shape -- instead of exploding each row into 48
    # (j, sign) cells before the shuffle: partial aggregation reduces
    # every input partition to a single 48-column row map-side, so the
    # exchange and the state store see 48 BIGINTs, not 48x the corpus
    # (guide "aggregate before you shuffle"; the batch side learned this
    # in round 9 -- 8.6s explode vs sub-second fused at sf0.1).
    hashed = ev.select(hash60(F.col("user_id").cast("string")).alias("h"))
    return hashed.agg(*_counter_sums())


@memoize_drain
def ams_ingest_drained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drained streaming AMS counter vector == the batch vector (same
    oracle as sketch_ams_counters): each counter is a plain sum of
    hash-derived signs, a pure aggregation, so the join-size/skew
    statistic stays current as events ingest with AMS_COUNTERS BIGINTs of
    state no matter how long the stream runs. The drained state is the
    fused one-row counter vector; the batch-side unpivot re-emits the
    gated (j, counter) rows -- bit-identical integers (sum of signs per j
    == the j-th fused sum, associative integer addition)."""
    from ..operators.ams import _unpivot_counters

    res = run_stream_once(ams_ingest_stream(spark, sf_dir), "t_gate_ams_ingest")
    return _unpivot_counters(res).orderBy("j")


# --------------------------------------------------------------------------
# Multiplexed streaming source: N topic directories unioned into ONE
# streaming query with a lineage column -- the multi-topic ingestion shape
# a real pipeline needs (one job consuming clickstream + purchases + logs,
# each its own landing dir, windows computed per topic). The union of file
# streams is a single logical plan: each side keeps its own source/offset
# tracking, the windowed aggregation state is shared, and lineage is just
# a literal column stamped per side -- no per-topic job, no downstream
# merge step. Drained complete-mode result == batch GROUP BY over the
# reunited data, which is the oracle.
# --------------------------------------------------------------------------

@_memo.per_app
def _multiplex_dirs(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Two topic landing dirs: events split by user_id parity (a stand-in
    for per-topic partitioning), built once per (application, sf_dir)."""
    from ..sources.artifacts import scratch_dir

    ev = load_table(spark, sf_dir, "events")
    da = scratch_dir("topic-a-")
    db = scratch_dir("topic-b-")
    ev.filter(F.col("user_id") % 2 == 0).coalesce(1).write.mode("overwrite").parquet(da)
    ev.filter(F.col("user_id") % 2 != 0).coalesce(1).write.mode("overwrite").parquet(db)
    return da, db


def multiplex_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    da, db = _multiplex_dirs(spark, sf_dir)
    sa = events_stream_from(spark, da, files_per_trigger=8).withColumn("topic", F.lit("a"))
    sb = events_stream_from(spark, db, files_per_trigger=8).withColumn("topic", F.lit("b"))
    return sa.unionByName(sb)


@memoize_drain
def multiplex_counts_drained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(topic, hour) event counts computed by ONE streaming query over
    the unioned topic dirs, drained under the gate."""
    u = multiplex_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        u.groupBy(F.window("ts", "1 hour").alias("w"), "topic")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "topic", "n")
    )
    res = run_stream_once(agg, "t_gate_multiplex")
    return res.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "topic",
        "n",
    ).orderBy("window_start", "topic")


def multiplex_counts_drained_oracle() -> str:
    return """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS topic,
       count(*) AS n
FROM events
GROUP BY 1, 2
ORDER BY window_start, topic
""".strip()


# --------------------------------------------------------------------------
# Streaming ANALYZE: the per-column statistics surface
# (operators/maintenance.py:column_stats) maintained as a CONTINUOUS
# aggregation over the events stream -- stats that are current as data
# arrives instead of recomputed by a nightly scan. Only the
# pure-aggregation members stream here (count / null-count / min / max:
# all associative); the NDV member's streaming form is the stateful
# bottom-k already gated as stream_kmv_ingest_drained. Shape: UNPIVOT
# each row into (col, is_null, num_val, str_val) entries, then ONE
# groupBy(col) -- a single aggregation (the structured-streaming
# constraint) that is also exactly how a one-pass production ANALYZE
# fuses its per-column partials. State: one row per column, bounded.
# --------------------------------------------------------------------------

EVENT_STATS_COLUMNS = [
    ("event_id", "key"),
    ("event_type", "str"),
    ("props", "str"),
    ("ts", "ts"),
    ("user_id", "key"),
    ("value", "num"),
]


def stats_ingest_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_stream(spark, sf_dir)

    def entry(col: str, kind: str):
        v = F.col(col)
        num = (
            v.cast("double")
            if kind in ("key", "num")
            else F.lit(None).cast("double")
        )
        if kind == "ts":
            s = F.date_format(v, "yyyy-MM-dd HH:mm:ss")
        elif kind == "str":
            s = v
        else:
            s = F.lit(None).cast("string")
        return F.struct(
            F.lit(col).alias("col"),
            v.isNull().cast("int").alias("is_null"),
            num.alias("num_val"),
            s.alias("str_val"),
        )

    ex = ev.select(
        F.explode(
            F.array(*[entry(c, k) for c, k in EVENT_STATS_COLUMNS])
        ).alias("e")
    ).select("e.*")
    return ex.groupBy("col").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("is_null").alias("n_null"),
        F.min("num_val").alias("min_num_raw"),
        F.max("num_val").alias("max_num_raw"),
        F.min("str_val").alias("min_str"),
        F.max("str_val").alias("max_str"),
    )


@memoize_drain
def stats_ingest_drained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drained streaming column stats == the batch ANALYZE pass (rounding
    applied batch-side on the one-row-per-column result table)."""
    res = run_stream_once(stats_ingest_stream(spark, sf_dir), "t_gate_stats_ingest")
    return res.select(
        "col",
        "n_rows",
        F.col("n_null").cast("long").alias("n_null"),
        (F.round("min_num_raw", 6) + F.lit(0.0)).alias("min_num"),
        (F.round("max_num_raw", 6) + F.lit(0.0)).alias("max_num"),
        "min_str",
        "max_str",
    ).orderBy("col")


def events_stats_oracle() -> str:
    parts = []
    for col, kind in EVENT_STATS_COLUMNS:
        if kind in ("key", "num"):
            mn = f"(round(min({col}::DOUBLE), 6) + 0.0)"
            mx = f"(round(max({col}::DOUBLE), 6) + 0.0)"
            ms, xs = "NULL::VARCHAR", "NULL::VARCHAR"
        elif kind == "ts":
            mn, mx = "NULL::DOUBLE + 0.0", "NULL::DOUBLE + 0.0"
            ms = f"min(strftime({col}, '%Y-%m-%d %H:%M:%S'))"
            xs = f"max(strftime({col}, '%Y-%m-%d %H:%M:%S'))"
        else:
            mn, mx = "NULL::DOUBLE + 0.0", "NULL::DOUBLE + 0.0"
            ms, xs = f"min({col})", f"max({col})"
        parts.append(
            f"""SELECT '{col}' AS col, count(*) AS n_rows,
       sum(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
       {mn} AS min_num, {mx} AS max_num, {ms} AS min_str, {xs} AS max_str
FROM events"""
        )
    body = "\nUNION ALL\n".join(parts)
    return f"SELECT * FROM (\n{body}\n) ORDER BY col"


# --------------------------------------------------------------------------
# Streaming constraint audit: the ingest-time slice of the Deequ-style
# validation suite (maintenance.constraint_audit) maintained continuously
# over the event stream. Only pure-aggregation checks stream (uniqueness
# needs exact distinct state, which structured streaming's single-
# aggregation constraint excludes -- the batch audit covers it); the
# tolerance check fires on this corpus so the violation arithmetic is
# gated non-vacuously here too. State: one row per check, bounded.
# --------------------------------------------------------------------------

AUDIT_EVENT_VALUE_CAP = 99.0

_EVENT_AUDIT_CHECKS: list[tuple[str, str]] = [
    # (check_name, SQL predicate marking a VIOLATION) -- shared verbatim
    # with the DuckDB oracle
    ("events_props_nonnull", "props IS NULL"),
    ("events_ts_nonnull", "ts IS NULL"),
    ("events_type_nonempty", "event_type IS NULL OR event_type = ''"),
    ("events_user_id_nonneg", "user_id < 0"),  # 0 is a legitimate id here
    ("events_value_le_cap", f"value > {AUDIT_EVENT_VALUE_CAP}"),
    ("events_value_nonneg", "value < 0"),
]


def audit_ingest_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_stream(spark, sf_dir)
    entries = [
        F.struct(
            F.lit(name).alias("check_name"),
            F.expr(f"CASE WHEN {pred} THEN 1 ELSE 0 END").alias("viol"),
        )
        for name, pred in _EVENT_AUDIT_CHECKS
    ]
    ex = ev.select(F.explode(F.array(*entries)).alias("e")).select("e.*")
    return ex.groupBy("check_name").agg(
        F.count(F.lit(1)).alias("checked"),
        F.sum("viol").alias("violations"),
    )


@memoize_drain
def audit_ingest_drained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drained streaming audit == the batch audit of the same checks."""
    res = run_stream_once(audit_ingest_stream(spark, sf_dir), "t_gate_audit_ingest")
    return res.select(
        "check_name",
        "checked",
        F.col("violations").cast("long").alias("violations"),
        (F.col("violations") == 0).alias("passed"),
    ).orderBy("check_name")


def events_audit_oracle() -> str:
    parts = [
        f"""SELECT '{name}' AS check_name, count(*) AS checked,
       sum(CASE WHEN {pred} THEN 1 ELSE 0 END)::BIGINT AS violations
FROM events"""
        for name, pred in _EVENT_AUDIT_CHECKS
    ]
    body = "\nUNION ALL\n".join(parts)
    return (
        f"SELECT check_name, checked, violations, violations = 0 AS passed\n"
        f"FROM (\n{body}\n) ORDER BY check_name"
    )
