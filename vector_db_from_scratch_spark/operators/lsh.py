"""Sign-bit random-projection LSH index -- the reference's approximate path.

Reference parity (semantics, not implementation -- SURVEY.md §2.9 Q3, §2.7
X6/X7, §4 O4/O5):
  - Gaussian projection matrix, seeded, ``num_projections=8`` default
    (vector_db/indexes.py:172-187); here generated once driver-side with
    NumPy (seed 42).
  - bucket = little-endian packed sign bits of P.v (indexes.py:236-242).
  - search probes ONLY the query's bucket, intersects with the metadata
    candidate set, and falls back to an exhaustive scan over the allowed
    set when fewer than k candidates remain (indexes.py:206-234; fallback
    :223-224) -- accuracy floor preserved.

Spark-first design:
  - The bucket is computed by one kernel, :func:`bucket_kernel`: a NumPy
    sign-pack (one ``M @ P^T`` GEMM per Arrow batch) in ``mapInArrow``. The
    registry's index build (:func:`build_index`) and the entity store's
    random_projection search both run it, and :func:`_bucket_of` buckets a
    query vector with the same arithmetic. :func:`bucket_expr` is the same
    function as a SQL expression (sign tests over ``aggregate`` dot
    products): it stays the oracle-exact reference, the parity check in
    :func:`bucket_stats`, and the streaming path's bucket
    (streaming/windows.py), where no Python stage is wanted.
  - Persisting the index table ``partitionBy("bucket")`` makes the probe a
    partition-pruned scan -- Catalyst's partition pruning IS the
    reference's O(sqrt n) bucket probe at cluster scale.
  - The <k fallback in :func:`lsh_knn` is a union plan gated on a broadcast
    one-row occupancy count, so the choice happens inside one plan; the
    entity store's search decides it with one eager count on the library's
    probed candidates instead. The oracle expresses the same choice with a
    conditional UNION.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import _memo

from ..functions.vector import Operand, arrow_embeddings, distance_expr, dot, oracle_distance_sql
from ..sources.tables import load_table

NUM_PROJECTIONS = 8
DIMENSION = 64
SEED = 42


def projection_matrix(
    dimension: int = DIMENSION,
    num_projections: int = NUM_PROJECTIONS,
    seed: int = SEED,
) -> list[list[float]]:
    """Seeded Gaussian hyperplanes, float32-exact Python floats so the Spark
    literals and the oracle SQL literals are the same doubles. Works for any
    library dimension (the reference builds one per-library matrix, X7)."""
    rng = np.random.default_rng(seed)
    mat = rng.normal(size=(num_projections, dimension)).astype(np.float32)
    return [[float(x) for x in row] for row in mat]


_PROJECTIONS = projection_matrix()


def bucket_expr(v: Operand, projections: list[list[float]] | None = None) -> Column:
    """Little-endian sign-bit packing: bit i set iff P_i . v >= 0 (``v`` is
    any ``dot`` operand, usually a column name)."""
    proj = projections if projections is not None else _PROJECTIONS
    b = F.lit(0)
    for i, row in enumerate(proj):
        b = b + F.when(dot(v, row) >= 0.0, F.lit(1 << i)).otherwise(F.lit(0))
    return b.cast("int")


def _proj_sql_row(row: list[float]) -> str:
    vals = ", ".join(repr(x) for x in row)
    return f"[{vals}]::DOUBLE[]"


def bucket_sql(v: str, projections: list[list[float]] | None = None) -> str:
    """DuckDB twin of :func:`bucket_expr`; pass a per-library
    ``projection_matrix(...)`` for non-default seeds (reference
    indexes.py:172-187 seeds one matrix per library)."""
    proj = projections if projections is not None else _PROJECTIONS
    terms = " + ".join(
        f"(CASE WHEN list_inner_product({v}, {_proj_sql_row(row)}) >= 0 THEN {1 << i} ELSE 0 END)"
        for i, row in enumerate(proj)
    )
    return f"({terms})"


def _sign_pack(m: np.ndarray, p: np.ndarray) -> np.ndarray:
    """Little-endian packed sign bits of ``m @ p.T``: bit i of row r is set
    iff P_i . m_r >= 0. A NaN dot product sets its bit, as Spark's NaN
    ordering (NaN above every number) does in :func:`bucket_expr`."""
    d = m @ p.T
    signs = (d >= 0.0) | np.isnan(d)
    return signs @ (np.int64(1) << np.arange(p.shape[0], dtype=np.int64))


def _buckets(emb, p: np.ndarray) -> np.ndarray:
    """int32 bucket of each embedding in one Arrow batch's list column. A
    row that :func:`arrow_embeddings` rejects (NULL, wrong length, NULL
    element) gets bucket 0 as in :func:`bucket_expr`, whose dot products
    are NULL there."""
    ok, m = arrow_embeddings(emb, p.shape[1])
    out = np.zeros(len(emb), dtype=np.int32)
    out[ok] = _sign_pack(m, p)
    return out


def bucket_kernel(df: DataFrame, projections: list[list[float]] | None = None) -> DataFrame:
    """``df`` plus an int ``bucket`` column: the sign-pack of each row's
    ``embedding`` against ``projections`` (default: the engine's 8 x 64
    matrix), one NumPy GEMM per Arrow batch.

    Agrees with :func:`bucket_expr` except for dot products within ~1e-13
    of zero (BLAS vs sequential fold), which tests check empirically.

    ``mapInArrow`` is opaque to Catalyst: filters on ``bucket`` stay
    above it, so the kernel runs on whatever rows ``df`` already kept."""
    import pyarrow as pa
    from pyspark.sql.types import IntegerType, StructField, StructType

    p = np.asarray(projections if projections is not None else _PROJECTIONS, dtype=np.float64)

    def batches(it):
        for batch in it:
            bucket = pa.array(_buckets(batch.column("embedding"), p), pa.int32())
            yield batch.append_column("bucket", bucket)

    out_schema = StructType(df.schema.fields + [StructField("bucket", IntegerType())])
    return df.mapInArrow(batches, out_schema)


def build_index(emb: DataFrame, fast: bool = True) -> DataFrame:
    """Index table = vectors + bucket column (batch index build; the
    reference's per-insert index mutation has no batch-Spark analog by
    design -- BASELINE.md north star).

    Fast path: :func:`bucket_kernel` -- at 1B vectors the interpreted 8x64
    fold per row is the build bottleneck. ``fast=False`` is the
    oracle-exact :func:`bucket_expr` path.
    """
    if not fast:
        return emb.withColumn("bucket", bucket_expr("embedding"))
    return bucket_kernel(emb)


_LSH_INDEX_MEMO: dict[tuple[str, str], DataFrame] = _memo.register({})


def index_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cached bucket-indexed embeddings table for the driver testdata --
    built once per application (the in-session analog of the persisted
    ``partitionBy("bucket")`` artifact in :func:`save_index`) and shared by
    every LSH query and the LSH-blocked dedup."""
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _LSH_INDEX_MEMO:
        _LSH_INDEX_MEMO[key] = build_index(
            load_table(spark, sf_dir, "embeddings")
        ).cache()
    return _LSH_INDEX_MEMO[key]


def save_index(emb: DataFrame, path: str) -> None:
    """S10 analog: persist partitioned by bucket so probes prune partitions
    (clustered by bucket before the write -- one file per bucket, parallel
    file creation; sources.artifacts.write_partitioned)."""
    from ..sources.artifacts import write_partitioned

    write_partitioned(build_index(emb), path, "bucket")


def load_index(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def lsh_knn(
    spark: SparkSession,
    sf_dir: str,
    metric: str = "cosine",
    k: int = 10,
    query_vec_id: int = 0,
    label_filter: int | None = None,
    index_df: DataFrame | None = None,
) -> DataFrame:
    """Approximate k-NN with bucket probe + exact-semantics fallback."""
    if k <= 0:
        raise ValueError("k must be > 0")
    emb = index_df if index_df is not None else index_table(spark, sf_dir)
    from .knn import query_vector

    qvec = query_vector(spark, sf_dir, query_vec_id)
    qbucket = _bucket_of(qvec)
    allowed = emb
    if label_filter is not None:
        allowed = allowed.filter(F.col("label") == label_filter)
    # reference indexes.py:223-224: fewer than k candidates (after the
    # metadata intersection) -> widen to every allowed vector. Routed as a
    # union plan on the broadcast 1-row occupancy; round 10 moves the
    # WIDENED branch's occ < k predicate INSIDE its broadcast side (a
    # 0-or-1-row gate), so when the bucket holds >= k candidates AQE's
    # empty-relation propagation eliminates the fallback's FULL index scan
    # (embedding column included -- a complete parquet read per probe on
    # persisted artifacts before this round; measured 0.9-1.5s -> 0.55s
    # isolated, plans/r10/lsh_knn_{before,after}.txt). The live bucket
    # branch keeps the filter-above form: gating it too serializes the
    # common path behind an extra AQE broadcast stage for no scan savings
    # (its scan is already partition-pruned). Without AQE the widened
    # branch still evaluates (correctness is AQE-independent); it just
    # joins against an empty broadcast relation.
    bucket_cand = allowed.filter(F.col("bucket") == qbucket)
    occ = bucket_cand.agg(F.count(F.lit(1)).alias("occ"))
    # live branch keeps the filter-above form (no stage serialization on
    # the common path); only the EXPENSIVE dead branch is gated
    probe = (
        bucket_cand.crossJoin(F.broadcast(occ))
        .filter(F.col("occ") >= k)
        .select("vec_id", "embedding")
    )
    widened = (
        allowed.crossJoin(F.broadcast(occ.filter(F.col("occ") < k)))
        .select("vec_id", "embedding")
    )
    return (
        probe.unionAll(widened)
        .select(
            "vec_id",
            distance_expr(metric, "embedding", qvec).alias("distance"),
        )
        .orderBy("distance", "vec_id")
        .limit(k)
    )


def _bucket_of(vec: list[float], projections: list[list[float]] | None = None) -> int:
    """The bucket of one vector, by :func:`bucket_kernel`'s arithmetic."""
    p = np.asarray(projections if projections is not None else _PROJECTIONS, dtype=np.float64)
    return int(_sign_pack(np.asarray([vec], dtype=np.float64), p)[0])


def lsh_knn_multiprobe(
    spark: SparkSession,
    sf_dir: str,
    metric: str = "cosine",
    k: int = 10,
    query_vec_id: int = 0,
    max_hamming: int = 1,
) -> DataFrame:
    """Multi-probe LSH: probe every bucket within ``max_hamming`` sign-bit
    flips of the query's bucket (the standard recall/probe-cost dial beyond
    the reference's single-bucket probe + fallback). With 8 projections,
    hamming<=1 probes 9 of 256 buckets -- ~9x the candidates, no exhaustive
    fallback needed at realistic densities; on the partitioned index table
    the probe is still partition-pruned (bucket IN (<=9 values))."""
    if k <= 0:
        raise ValueError("k must be > 0")
    emb = index_table(spark, sf_dir)
    from .knn import query_vector

    qvec = query_vector(spark, sf_dir, query_vec_id)
    qb = _bucket_of(qvec)
    probe = [
        b for b in range(1 << NUM_PROJECTIONS)
        if bin(b ^ qb).count("1") <= max_hamming
    ]
    return (
        emb.filter(F.col("bucket").isin(probe))
        .select("vec_id", distance_expr(metric, "embedding", qvec).alias("distance"))
        .orderBy("distance", "vec_id")
        .limit(k)
    )


def lsh_knn_multiprobe_oracle(
    metric: str = "cosine", k: int = 10, query_vec_id: int = 0, max_hamming: int = 1
) -> str:
    d = oracle_distance_sql(metric, "e.v", "q.qv")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                  {bucket_sql('embedding::DOUBLE[]')} AS bucket
           FROM embeddings),
q AS (SELECT embedding::DOUBLE[] AS qv,
             {bucket_sql('embedding::DOUBLE[]')} AS qbucket
      FROM embeddings WHERE vec_id = {query_vec_id})
SELECT e.vec_id AS vec_id, {d} AS distance
FROM e, q
WHERE bit_count(xor(e.bucket::BIGINT, q.qbucket::BIGINT)) <= {max_hamming}
ORDER BY distance, vec_id
LIMIT {k}
""".strip()


def lsh_knn_batch(
    spark: SparkSession,
    sf_dir: str,
    metric: str = "cosine",
    k: int = 5,
    num_queries: int = 8,
) -> DataFrame:
    """Multi-query LSH probe: queries JOIN index ON bucket (J4's batch form
    -- the reference can only probe one query at a time). No fallback here:
    this is the pure bucket-probe plan whose per-query recall the fallback
    variant tops up; batch probing is where the bucket equi-join shines at
    scale (one shuffle-free broadcast join instead of Q driver round trips).
    """
    emb = index_table(spark, sf_dir)
    queries = (
        emb
        .filter(F.col("vec_id") < num_queries)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q"),
            F.col("bucket").alias("qbucket"),
        )
    )
    from pyspark.sql import Window

    probed = emb.join(F.broadcast(queries), F.col("bucket") == F.col("qbucket"))
    w = Window.partitionBy("query_id").orderBy("distance", "vec_id")
    return (
        probed.select(
            "query_id",
            "vec_id",
            distance_expr(metric, "embedding", "q").alias("distance"),
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def lsh_knn_batch_fallback(
    spark: SparkSession,
    sf_dir: str,
    metric: str = "cosine",
    k: int = 5,
    num_queries: int = 8,
) -> DataFrame:
    """Batch probe WITH the reference's per-query `<k` fallback
    (indexes.py:223-224) as a union plan -- no driver round-trip per
    query: per-bucket occupancy joins onto the query set, queries whose
    bucket holds >= k candidates take the bucket-probe branch, the rest
    re-scan every vector (exactly what the single-query path does), and
    one window ranks the union. Resolves the divergence
    :func:`lsh_knn_batch` documents: this operator matches
    :func:`lsh_knn` per query, at batch shape (equality pinned in
    tests)."""
    from pyspark.sql import Window

    emb = index_table(spark, sf_dir)
    occ = emb.groupBy("bucket").agg(F.count(F.lit(1)).alias("occ"))
    queries = (
        emb.filter(F.col("vec_id") < num_queries)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q"),
            F.col("bucket").alias("qbucket"),
        )
        .join(
            occ.select(F.col("bucket").alias("qbucket"), "occ"),
            "qbucket",
            "left",
        )
        .withColumn("occ", F.coalesce("occ", F.lit(0)))
    )
    probe_q = queries.filter(F.col("occ") >= k).drop("occ")
    full_q = queries.filter(F.col("occ") < k).drop("occ", "qbucket")
    probed = emb.join(F.broadcast(probe_q), F.col("bucket") == F.col("qbucket")).select(
        "query_id", "vec_id", "embedding", "q"
    )
    widened = emb.crossJoin(F.broadcast(full_q)).select(
        "query_id", "vec_id", "embedding", "q"
    )
    pool = probed.unionAll(widened)
    w = Window.partitionBy("query_id").orderBy("distance", "vec_id")
    return (
        pool.select(
            "query_id",
            "vec_id",
            distance_expr(metric, "embedding", "q").alias("distance"),
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def lsh_knn_batch_fallback_oracle(
    metric: str = "cosine", k: int = 5, num_queries: int = 8
) -> str:
    d = oracle_distance_sql(metric, "p.v", "p.qv")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                  {bucket_sql('embedding::DOUBLE[]')} AS bucket
           FROM embeddings),
occ AS (SELECT bucket, count(*) AS occ FROM e GROUP BY bucket),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
             {bucket_sql('embedding::DOUBLE[]')} AS qbucket
      FROM embeddings WHERE vec_id < {num_queries}),
qo AS (SELECT q.*, coalesce(occ.occ, 0) AS occ
       FROM q LEFT JOIN occ ON q.qbucket = occ.bucket),
pool AS (
  SELECT qo.query_id, e.vec_id, e.v, qo.qv
  FROM e JOIN qo ON e.bucket = qo.qbucket AND qo.occ >= {k}
  UNION ALL
  SELECT qo.query_id, e.vec_id, e.v, qo.qv
  FROM e CROSS JOIN qo WHERE qo.occ < {k}),
scored AS (
  SELECT query_id, vec_id, {d} AS distance,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY {d}, vec_id) AS rank
  FROM pool p)
SELECT query_id, vec_id, distance, rank
FROM scored WHERE rank <= {k}
""".strip()


def lsh_knn_batch_oracle(metric: str = "cosine", k: int = 5, num_queries: int = 8) -> str:
    d = oracle_distance_sql(metric, "e.v", "q.qv")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                  {bucket_sql('embedding::DOUBLE[]')} AS bucket
           FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
             {bucket_sql('embedding::DOUBLE[]')} AS qbucket
      FROM embeddings WHERE vec_id < {num_queries}),
scored AS (
  SELECT q.query_id, e.vec_id, {d} AS distance,
         row_number() OVER (PARTITION BY q.query_id ORDER BY {d}, e.vec_id) AS rank
  FROM e JOIN q ON e.bucket = q.qbucket)
SELECT query_id, vec_id, distance, rank
FROM scored WHERE rank <= {k}
""".strip()


def lsh_knn_oracle(
    metric: str = "cosine",
    k: int = 10,
    query_vec_id: int = 0,
    label_filter: int | None = None,
    exclude_sql: str | None = None,
) -> str:
    """Static SQL with the same data-dependent fallback via conditional
    UNION branches (both branches always valid; exactly one is non-empty).
    ``exclude_sql`` drops rows matching the predicate from the allowed set
    BEFORE the occupancy count -- the tombstone-probe semantics."""
    where = f"AND label = {label_filter}" if label_filter is not None else ""
    if exclude_sql is not None:
        where += f" AND NOT ({exclude_sql})"
    d = oracle_distance_sql(metric, "p.v", "q.qv")
    return f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v,
                  {bucket_sql('embedding::DOUBLE[]')} AS bucket
           FROM embeddings),
q AS (SELECT embedding::DOUBLE[] AS qv,
             {bucket_sql('embedding::DOUBLE[]')} AS qbucket
      FROM embeddings WHERE vec_id = {query_vec_id}),
allowed AS (SELECT * FROM e WHERE TRUE {where}),
cand AS (SELECT a.* FROM allowed a, q WHERE a.bucket = q.qbucket),
n AS (SELECT count(*) AS c FROM cand),
pool AS (
  SELECT * FROM cand WHERE (SELECT c FROM n) >= {k}
  UNION ALL
  SELECT * FROM allowed WHERE (SELECT c FROM n) < {k}
)
SELECT p.vec_id AS vec_id, {d} AS distance
FROM pool p, q
ORDER BY distance, vec_id
LIMIT {k}
""".strip()


def bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index introspection: bucket occupancy histogram of the LSH index --
    the engine analog of the reference's persisted index metadata
    (bucket -> id list sizes, vector_db/indexes.py:262-287). Uses the
    expression-path bucket (oracle-exact sign tests) rather than the BLAS
    fast path, because this query IS the parity check of the bucket
    function over every vector. One groupBy on an 8-bit key: at any scale
    the shuffle moves at most 2^num_projections rows per partition."""
    emb = load_table(spark, sf_dir, "embeddings")
    idx = emb.withColumn("bucket", bucket_expr("embedding"))
    return (
        idx.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.min("vec_id").alias("first_vec"),
        )
        .orderBy("bucket")
    )


def bucket_stats_oracle() -> str:
    return f"""
SELECT {bucket_sql('embedding::DOUBLE[]')} AS bucket,
       count(*) AS n_vectors, min(vec_id) AS first_vec
FROM embeddings
GROUP BY bucket
ORDER BY bucket
""".strip()


# --------------------------------------------------------------------------
# Persisted-index round trip (SURVEY §2.1 S10/S11 under the gate): save the
# bucket-partitioned index artifact, read it back, probe it. After the
# first call the artifact exists and every probe is a partition-pruned
# parquet read -- the exact lifecycle of the reference's
# RandomProjectionIndex.save/load (vector_db/indexes.py:262-321), with
# Catalyst partition pruning playing the bucket-dict lookup.
# --------------------------------------------------------------------------

_PERSISTED_MEMO: dict[tuple[str, str], str] = _memo.register({})


def lsh_index_persisted_knn(
    spark: SparkSession,
    sf_dir: str,
    metric: str = "cosine",
    k: int = 10,
    query_vec_id: int = 0,
) -> DataFrame:
    """Write the LSH index with :func:`save_index` (once per application),
    :func:`load_index` it, and run the bucket probe against the on-disk
    artifact. Same results as :func:`lsh_knn` -- the gate runs both against
    the same oracle."""
    idx = load_index(spark, _persisted_index_path(spark, sf_dir))
    return lsh_knn(spark, sf_dir, metric, k=k, query_vec_id=query_vec_id, index_df=idx)


def _persisted_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Build + write the full bucket-partitioned index artifact once per
    (application, sf_dir). The persisted probe, the tombstone probe, and
    the versioned probe's v1 snapshot all consume an artifact whose rows
    are identical by construction (build_index over the full embeddings
    table), so each query writing its own copy -- the pre-round-10 shape --
    was three full index builds + three 256-partition writes of the same
    table per session. The rows come from the cached in-session index
    table, so the write re-runs neither the scan nor the bucket kernel.

    INVARIANT (ADVICE r10): this directory is immutable once written for
    the lifetime of the application -- the persisted probe, the tombstone
    probe, and the versioned probe's v1 snapshot all read it, so any
    future consumer needing DIFFERENT index parameters must write its own
    artifact (copy-on-share), never rewrite this path in place."""
    from ..sources.artifacts import scratch_dir, write_partitioned

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _PERSISTED_MEMO:
        path = scratch_dir("lsh-index-")
        write_partitioned(index_table(spark, sf_dir), path, "bucket")
        _PERSISTED_MEMO[key] = path
    return _PERSISTED_MEMO[key]


# --------------------------------------------------------------------------
# Tombstone-aware probe (S12 at the index layer): deletes in a production
# index are a side table of dead ids applied at probe time, not a rebuild
# (the reference DOES rebuild -- service.py removes the id and re-saves the
# whole flat dict). The probe anti-joins the tombstone set before the
# occupancy count, so the <k fallback widens over the LIVE corpus only --
# a delete can flip a probe from bucket-only to widened exactly like a
# too-small bucket does, and the gate checks that composition.
#
# 100 TB: tombstones are tiny relative to the corpus (deletes accumulate
# between compactions), so the anti-join broadcasts; the bucket partition
# pruning on the persisted artifact is untouched. Compaction
# (lsh_index_merge_knn) is where tombstones get physically applied.
# --------------------------------------------------------------------------

TOMBSTONE_MOD = 7
TOMBSTONE_RESIDUE = 3
TOMBSTONE_SQL = f"vec_id % {TOMBSTONE_MOD} = {TOMBSTONE_RESIDUE}"


def lsh_index_tombstone_knn(
    spark: SparkSession,
    sf_dir: str,
    metric: str = "cosine",
    k: int = 10,
    query_vec_id: int = 0,
) -> DataFrame:
    """Probe the persisted index with a deterministic tombstone set
    (vec_id % 7 == 3) applied as a broadcast anti-join -- deletes without
    a rebuild. Gated against :func:`lsh_knn_oracle` with the same
    exclusion, i.e. the probe must behave exactly as if the deleted rows
    had never been indexed."""
    idx = load_index(spark, _persisted_index_path(spark, sf_dir))
    tombstones = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id")
        .filter(F.col("vec_id") % TOMBSTONE_MOD == TOMBSTONE_RESIDUE)
    )
    live = idx.join(F.broadcast(tombstones), "vec_id", "left_anti")
    return lsh_knn(spark, sf_dir, metric, k=k, query_vec_id=query_vec_id, index_df=live)


# --------------------------------------------------------------------------
# Index segment merge (compaction): a streaming/batch ingest writes the
# index as many small segments; a vector store periodically compacts them
# into one artifact (the segment-merge every production engine runs --
# the reference rebuilds its whole flat dict instead, indexes.py:262-321).
# Here the corpus arrives as two vec_id-parity segments, each saved as its
# own bucket-partitioned index; compaction unions the ALREADY-ENCODED rows
# (a pure parquet rewrite -- no re-hashing, no re-bucketing) into the
# merged artifact, and the probe runs against the merge. The gated
# invariant is the one that matters operationally: a probe of the merged
# index is indistinguishable from a probe of an index built in one shot
# (same oracle as lsh_knn).
#
# 100 TB: segments merge pairwise per bucket partition -- the rewrite
# shuffles nothing (both inputs are already partitioned by bucket, the
# writer re-partitions by the same key), and probes stay partition-pruned
# before, during, and after compaction.
# --------------------------------------------------------------------------

_SEGMENT_MEMO: dict[tuple[str, str], str] = _memo.register({})


def lsh_index_merge_knn(
    spark: SparkSession,
    sf_dir: str,
    metric: str = "cosine",
    k: int = 10,
    query_vec_id: int = 0,
) -> DataFrame:
    """Save two ingest segments, compact them into one merged index
    artifact (once per application), probe the merge. Same results as
    :func:`lsh_knn` -- the gate runs both against the same oracle."""
    from ..sources.artifacts import scratch_dir, write_partitioned

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _SEGMENT_MEMO:
        root = scratch_dir("lsh-segments-")
        # segment rows come from the cached in-session index table (same
        # build_index output) -- writing a parity slice needs neither a
        # fresh embeddings scan nor a re-run of the bucket kernel
        idx_full = index_table(spark, sf_dir)
        for i in (0, 1):
            write_partitioned(
                idx_full.filter(F.col("vec_id") % 2 == i), f"{root}/seg{i}", "bucket"
            )
        merged = load_index(spark, f"{root}/seg0").unionByName(
            load_index(spark, f"{root}/seg1")
        )
        write_partitioned(merged, f"{root}/merged", "bucket")
        _SEGMENT_MEMO[key] = f"{root}/merged"
    idx = load_index(spark, _SEGMENT_MEMO[key])
    return lsh_knn(spark, sf_dir, metric, k=k, query_vec_id=query_vec_id, index_df=idx)


# --------------------------------------------------------------------------
# Versioned snapshots (time travel at the index layer): a production store
# keeps the artifact of each compaction generation so probes can pin a
# version (reproducing yesterday's retrieval for an eval, or serving reads
# during a cutover). Version 1 here is the full one-shot index; version 2
# is the post-delete compaction (tombstones physically applied). The gated
# query probes BOTH versions in one plan and tags rows with the version --
# v1 must reproduce the plain probe and v2 the tombstone probe exactly,
# which is precisely what "as-of reads are reproducible" means. Both
# artifacts are bucket-partitioned, so both probes stay partition-pruned.
# --------------------------------------------------------------------------

_VERSIONED_MEMO: dict[tuple[str, str], dict[int, str]] = _memo.register({})


def lsh_index_versioned_knn(
    spark: SparkSession,
    sf_dir: str,
    metric: str = "cosine",
    k: int = 10,
    query_vec_id: int = 0,
) -> DataFrame:
    """(version, vec_id, distance): the same probe against snapshot v1
    (pre-delete) and v2 (post-delete compaction), unioned."""
    from ..sources.artifacts import scratch_dir, write_partitioned

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _VERSIONED_MEMO:
        root = scratch_dir("lsh-versions-")
        # v1 IS the full one-shot index -- identical rows to the shared
        # persisted artifact, so reuse it instead of writing a second copy
        v1 = _persisted_index_path(spark, sf_dir)
        live = load_index(spark, v1).filter(
            F.col("vec_id") % TOMBSTONE_MOD != TOMBSTONE_RESIDUE
        )
        # compaction generation: tombstones applied as a parquet rewrite
        # of the already-encoded rows (no re-hashing)
        write_partitioned(live, f"{root}/v2", "bucket")
        _VERSIONED_MEMO[key] = {1: v1, 2: f"{root}/v2"}
    out = None
    for v, path in sorted(_VERSIONED_MEMO[key].items()):
        probe = lsh_knn(
            spark,
            sf_dir,
            metric,
            k=k,
            query_vec_id=query_vec_id,
            index_df=load_index(spark, path),
        ).select(F.lit(v).alias("version"), "vec_id", "distance")
        out = probe if out is None else out.unionAll(probe)
    return out.orderBy("version", "distance", "vec_id")


def lsh_index_versioned_knn_oracle(
    metric: str = "cosine", k: int = 10, query_vec_id: int = 0
) -> str:
    v1 = lsh_knn_oracle(metric, k=k, query_vec_id=query_vec_id)
    v2 = lsh_knn_oracle(
        metric, k=k, query_vec_id=query_vec_id, exclude_sql=TOMBSTONE_SQL
    )
    return f"""
SELECT 1 AS version, * FROM ({v1})
UNION ALL
SELECT 2 AS version, * FROM ({v2})
ORDER BY version, distance, vec_id
""".strip()


# --------------------------------------------------------------------------
# ANN quality as a first-class gated query: recall@k of the approximate
# probe against the exact flat scan. Both sides are deterministic (gated
# elsewhere), so the overlap count is hash-checkable -- the engine measures
# its own approximation error instead of asserting it only in tests.
# --------------------------------------------------------------------------

def lsh_recall(
    spark: SparkSession,
    sf_dir: str,
    metric: str = "cosine",
    k: int = 10,
    query_vec_id: int = 0,
) -> DataFrame:
    """(k, n_matched, recall_at_k): overlap of LSH top-k with exact top-k.

    One plan: both top-k subtrees (each a TakeOrderedAndProject over the
    shared cached index scan) feed a broadcast-able k-row join; at any
    scale this adds only the k-row intersection to the two probes."""
    from . import knn as knn_mod

    exact = knn_mod.flat_knn(
        spark, sf_dir, metric, k=k, query_vec_id=query_vec_id
    ).select("vec_id")
    approx = lsh_knn(spark, sf_dir, metric, k=k, query_vec_id=query_vec_id).select(
        "vec_id"
    )
    return (
        exact.join(approx, "vec_id")
        .agg(F.count(F.lit(1)).alias("n_matched"))
        .select(
            F.lit(k).alias("k"),
            "n_matched",
            (F.col("n_matched").cast("double") / F.lit(float(k))).alias("recall_at_k"),
        )
    )


# --------------------------------------------------------------------------
# Approximate k-NN graph: every vector's nearest neighbors WITHIN its LSH
# bucket -- the all-pairs building block for graph-based dedup/clustering
# (semantic dedup, SemDeDup-style) that a 100 TB pipeline runs instead of
# the quadratic exact graph. The self-join key is the bucket column, so the
# shuffle is an equi-join on an 8-bit key with w.h.p.-bounded bucket sizes
# (occupancy is observable via bucket_stats); the per-vector top-n window
# partitions by vec_id inside each bucket -- no global funnel anywhere.
# --------------------------------------------------------------------------

def knn_graph_blocked(
    spark: SparkSession,
    sf_dir: str,
    metric: str = "cosine",
    neighbors: int = 2,
) -> DataFrame:
    """(vec_id, rank, nbr_id, distance): top-``neighbors`` nearest vectors
    sharing the vector's LSH bucket (vectors alone in their bucket emit no
    rows -- same contract as the oracle)."""
    emb = index_table(spark, sf_dir)
    a = emb.select("vec_id", "bucket", "embedding")
    b = emb.select(
        F.col("vec_id").alias("nbr_id"),
        F.col("bucket").alias("nbr_bucket"),
        F.col("embedding").alias("nbr_emb"),
    )
    scored = (
        a.join(b, (F.col("bucket") == F.col("nbr_bucket")) & (F.col("vec_id") != F.col("nbr_id")))
        .select(
            "vec_id",
            "nbr_id",
            distance_expr(metric, "embedding", "nbr_emb").alias("distance"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy("distance", "nbr_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= neighbors)
        .select("vec_id", "rank", "nbr_id", "distance")
        .orderBy("vec_id", "rank")
    )


def knn_graph_blocked_oracle(metric: str = "cosine", neighbors: int = 2) -> str:
    d = oracle_distance_sql(metric, "a.v", "b.v")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                  {bucket_sql('embedding::DOUBLE[]')} AS bucket
           FROM embeddings),
pairs AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id, {d} AS distance,
         row_number() OVER (PARTITION BY a.vec_id ORDER BY {d}, b.vec_id) AS rank
  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id != b.vec_id)
SELECT vec_id, rank, nbr_id, distance
FROM pairs WHERE rank <= {neighbors}
ORDER BY vec_id, rank
""".strip()


def lsh_recall_oracle(
    metric: str = "cosine", k: int = 10, query_vec_id: int = 0
) -> str:
    d = oracle_distance_sql(metric, "p.v", "q.qv")
    df = oracle_distance_sql(metric, "e.v", "q.qv")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                  {bucket_sql('embedding::DOUBLE[]')} AS bucket
           FROM embeddings),
q AS (SELECT embedding::DOUBLE[] AS qv,
             {bucket_sql('embedding::DOUBLE[]')} AS qbucket
      FROM embeddings WHERE vec_id = {query_vec_id}),
flat AS (SELECT e.vec_id FROM e, q ORDER BY {df}, e.vec_id LIMIT {k}),
cand AS (SELECT e.* FROM e, q WHERE e.bucket = q.qbucket),
n AS (SELECT count(*) AS c FROM cand),
pool AS (
  SELECT * FROM cand WHERE (SELECT c FROM n) >= {k}
  UNION ALL
  SELECT * FROM e WHERE (SELECT c FROM n) < {k}
),
approx AS (SELECT p.vec_id FROM pool p, q ORDER BY {d}, p.vec_id LIMIT {k}),
m AS (SELECT count(*) AS n_matched FROM flat JOIN approx USING (vec_id))
SELECT {k} AS k, n_matched, n_matched::DOUBLE / {float(k)!r} AS recall_at_k FROM m
""".strip()
