"""Binary quantization: 1-bit-per-dimension codes + Hamming-shortlist ANN.

The fourth ANN compressor next to IVF (operators/ivf.py), PQ
(operators/pq.py) and SQ8 (operators/sq.py): threshold every dimension at
the midpoint of its corpus range, pack the 64 resulting bits into two
32-bit integer halves, and answer queries with Hamming distance over the
codes (bit_count of the XOR) followed by an exact full-precision re-rank of
the Hamming shortlist. This is the modern memory-tier design (binary /
RaBitQ-style quantization in production vector stores): 16 bytes per vector
instead of 256 for float32x64 -- a 16x smaller scan whose distance is two
XORs and two popcounts per candidate, entirely integer, entirely inside
whole-stage codegen. The reference engine has no quantizer at all
(vector_db/indexes.py:92 stores full float32); BQ is the 100 TB memory
tier: the code table fits in RAM when the vectors cannot.

Like SQ8 (and unlike the k-means families), training is min/max -- exact,
order-independent, engine-portable -- so the ENTIRE path (train ->
threshold -> pack -> Hamming -> shortlist -> exact re-rank) is
deterministic and hash-checked against the DuckDB oracle. Hamming distances
are exact integers; the only floats anywhere are the (min+max)/2 thresholds
(one IEEE op on identical operands in both engines) and the re-rank's
shared rounded distance expression.

Determinism contract:
  - thresholds: thr[i] = (min_i + max_i) / 2, exact aggregates + one
    double op -> bit-identical across engines.
  - bit i of a half is set iff v[dim] >= thr[dim] (>=, not >, so a value
    exactly on the threshold bits identically everywhere).
  - packing: little-endian within each half (bit j = dim j for the low
    half, dim 32+j for the high half); two non-negative 32-bit halves in
    BIGINTs -- no sign-bit wraparound to reconcile between engines.
  - Hamming = bit_count(lo XOR qlo) + bit_count(hi XOR qhi), cast BIGINT.
  - ties break on vec_id at every stage (shortlist AND final top-k).

Scale notes (100 TB thinking):
  - Training is ONE scan with partial aggregation (2*d doubles to the
    driver, no vector shuffle), memoized per (application, sf_dir) and
    shared by all bq_* queries.
  - The code scan is 16 B/vector of pure-integer work -- no shuffle: the
    query code broadcasts, TakeOrderedAndProject collects k*oversample
    rows. In production the (vec_id, lo, hi) table persists as the index
    (16x less IO); here encoding is fused into the query so the gate also
    covers the pack step.
  - The exact re-rank touches full vectors for only the shortlist rows via
    a broadcast semi-join -- the expensive column is read late and narrow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import _memo
from ..functions.vector import distance_expr, oracle_distance_sql
from ..sources.tables import arrow_local_df, load_table

DIM = 64
HALF = 32

_THR_MEMO: dict[tuple[str, str, int], list] = _memo.register({})


def bq_thresholds(spark: SparkSession, sf_dir: str, dim: int = DIM) -> DataFrame:
    """One-row DataFrame of the per-dimension threshold array -- the
    trained binarizer: thr[i] = (min_i + max_i) / 2 over the corpus.
    Elementwise min/max as 2*dim scalar aggregates in one pass; memoized
    per (application, sf_dir) like the SQ8 ranges (operators/sq.py)."""
    key = (spark.sparkContext.applicationId, sf_dir, dim)
    if key not in _THR_MEMO:
        emb = load_table(spark, sf_dir, "embeddings")
        e = F.col("embedding")
        row = emb.agg(
            F.array(
                *[
                    (F.min(e[i].cast("double")) + F.max(e[i].cast("double")))
                    / F.lit(2.0)
                    for i in range(dim)
                ]
            ).alias("thr")
        ).collect()[0]
        _THR_MEMO[key] = list(row["thr"])
    return arrow_local_df(spark, {"thr": [_THR_MEMO[key]]}, "thr array<double>")


# bit j of the low half = dim j; bit j of the high half = dim 32+j.
# `ed` (array<double>) and `thr` must be in scope; exact BIGINT adds only.
_PACK_LO = (
    "aggregate(sequence(0, 31), 0L, (acc, i) -> "
    "acc + IF(ed[i] >= thr[i], shiftleft(1L, i), 0L))"
)
_PACK_HI = (
    "aggregate(sequence(0, 31), 0L, (acc, i) -> "
    "acc + IF(ed[i + 32] >= thr[i + 32], shiftleft(1L, i), 0L))"
)


def _codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, label, lo, hi) binary codes for the whole corpus -- the
    16-byte index rows plus the filterable metadata column that rides the
    index (F1/F4: metadata filters land on the code scan, never on the
    float vectors). Encoding is fused into the scan (no persisted artifact
    at this scale; see module docstring for the production layout)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "vec_id", "label", F.col("embedding").cast("array<double>").alias("ed")
        )
        .crossJoin(F.broadcast(bq_thresholds(spark, sf_dir)))
        .select(
            "vec_id",
            "label",
            F.expr(_PACK_LO).alias("lo"),
            F.expr(_PACK_HI).alias("hi"),
        )
    )


def bq_knn_hamming(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    query_vec_id: int = 0,
    codes_df: DataFrame | None = None,
    label_filter: int | None = None,
) -> DataFrame:
    """Symmetric binary k-NN: top-k corpus vectors by Hamming distance
    between 64-bit codes. All-integer; the one ANN probe whose distances
    the gate checks without any float rounding device at all.
    ``codes_df`` overrides the code source (the persisted-artifact path);
    ``label_filter`` lands on the code scan BEFORE any popcount (the
    query's own code is always looked up unfiltered)."""
    if k <= 0:
        raise ValueError("k must be > 0")
    codes = codes_df if codes_df is not None else _codes(spark, sf_dir)
    q = codes.filter(F.col("vec_id") == query_vec_id).select(
        F.col("lo").alias("qlo"), F.col("hi").alias("qhi")
    )
    allowed = codes
    if label_filter is not None:
        allowed = allowed.filter(F.col("label") == label_filter)
    return (
        allowed.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            (
                F.bit_count(F.col("lo").bitwiseXOR(F.col("qlo")))
                + F.bit_count(F.col("hi").bitwiseXOR(F.col("qhi")))
            )
            .cast("long")
            .alias("hamming"),
        )
        .orderBy("hamming", "vec_id")
        .limit(k)
    )


def _oracle_codes_cte(dim: int = DIM) -> str:
    """Shared WITH-clause body building thresholds and codes in DuckDB
    (1-based list indexing; same >=, same little-endian packing)."""
    return f"""
mm AS (
  SELECT i, min((embedding::DOUBLE[])[i + 1]) AS mn,
         max((embedding::DOUBLE[])[i + 1]) AS mx
  FROM embeddings, range({dim}) t(i)
  GROUP BY i),
thr AS (SELECT list((mn + mx) / 2.0 ORDER BY i) AS t FROM mm),
c AS (
  SELECT vec_id, label,
         CAST(list_sum(list_transform(range(0, {HALF}), i ->
           CASE WHEN (embedding::DOUBLE[])[i + 1] >= t[i + 1]
                THEN (1::BIGINT << i) ELSE 0::BIGINT END)) AS BIGINT) AS lo,
         CAST(list_sum(list_transform(range(0, {HALF}), i ->
           CASE WHEN (embedding::DOUBLE[])[i + {HALF + 1}] >= t[i + {HALF + 1}]
                THEN (1::BIGINT << i) ELSE 0::BIGINT END)) AS BIGINT) AS hi
  FROM embeddings, thr)""".strip()


def bq_knn_hamming_oracle(
    k: int = 10,
    query_vec_id: int = 0,
    dim: int = DIM,
    label_filter: int | None = None,
) -> str:
    lf = f"WHERE c.label = {label_filter}" if label_filter is not None else ""
    return f"""
WITH {_oracle_codes_cte(dim)},
q AS (SELECT lo AS qlo, hi AS qhi FROM c WHERE vec_id = {query_vec_id})
SELECT c.vec_id AS vec_id,
       CAST(bit_count(xor(c.lo, q.qlo)) + bit_count(xor(c.hi, q.qhi)) AS BIGINT)
         AS hamming
FROM c, q
{lf}
ORDER BY hamming, vec_id
LIMIT {k}
""".strip()


def bq_knn_rerank(
    spark: SparkSession,
    sf_dir: str,
    metric: str = "cosine",
    k: int = 10,
    query_vec_id: int = 0,
    oversample: int = 3,
    codes_df: DataFrame | None = None,
) -> DataFrame:
    """Two-stage binary ANN: Hamming shortlist (k*oversample over the
    16-byte codes, ties on vec_id) -> exact re-rank over the full vectors
    for the shortlist only. Both stages deterministic, whole pipeline
    hash-checked -- the memory-tier production shape."""
    shortlist = bq_knn_hamming(
        spark, sf_dir, k=k * oversample, query_vec_id=query_vec_id, codes_df=codes_df
    )
    emb = load_table(spark, sf_dir, "embeddings")
    q = (
        emb.filter(F.col("vec_id") == query_vec_id)
        .select(F.col("embedding").cast("array<double>").alias("q"))
    )
    return (
        emb.join(F.broadcast(shortlist.select("vec_id")), "vec_id")
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            distance_expr(metric, "embedding", "q").alias("distance"),
        )
        .orderBy("distance", "vec_id")
        .limit(k)
    )


def bq_knn_rerank_oracle(
    metric: str = "cosine",
    k: int = 10,
    query_vec_id: int = 0,
    oversample: int = 3,
    dim: int = DIM,
) -> str:
    inner = bq_knn_hamming_oracle(k=k * oversample, query_vec_id=query_vec_id, dim=dim)
    d = oracle_distance_sql(metric, "e.ee", "q.qe")
    return f"""
WITH shortlist AS ({inner}),
e AS (SELECT vec_id, embedding::DOUBLE[] AS ee FROM embeddings
      WHERE vec_id IN (SELECT vec_id FROM shortlist)),
q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = {query_vec_id})
SELECT e.vec_id AS vec_id, {d} AS distance
FROM e, q
ORDER BY distance, vec_id
LIMIT {k}
""".strip()


# --------------------------------------------------------------------------
# Persisted code table: the 16-byte rows ARE the index artifact -- written
# once, then every probe is a scan of the code parquet (16x less IO than
# the vector column) plus a shortlist-only read of the full vectors. The
# query's code is taken from the SAME loaded artifact, so a probe touches
# the float embeddings ONLY for the k*oversample re-rank rows -- the
# memory-tier deployment where codes live in RAM and vectors on disk.
# --------------------------------------------------------------------------

_CODES_PERSISTED_MEMO: dict[tuple[str, str], str] = _memo.register({})


def bq_index_persisted_knn(
    spark: SparkSession,
    sf_dir: str,
    metric: str = "cosine",
    k: int = 10,
    query_vec_id: int = 0,
    oversample: int = 3,
) -> DataFrame:
    """Write the (vec_id, lo, hi) code table once per application, load it,
    run the Hamming shortlist + exact re-rank against the artifact. Same
    results as :func:`bq_knn_rerank` -- the gate runs both against the
    same oracle."""
    from ..sources.artifacts import scratch_dir

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _CODES_PERSISTED_MEMO:
        path = scratch_dir("bq-codes-")
        _codes(spark, sf_dir).write.mode("overwrite").parquet(path)
        _CODES_PERSISTED_MEMO[key] = path
    codes = spark.read.parquet(_CODES_PERSISTED_MEMO[key])
    return bq_knn_rerank(
        spark,
        sf_dir,
        metric,
        k=k,
        query_vec_id=query_vec_id,
        oversample=oversample,
        codes_df=codes,
    )


def bq_knn_batch(
    spark: SparkSession,
    sf_dir: str,
    metric: str = "cosine",
    k: int = 5,
    num_queries: int = 8,
    oversample: int = 3,
) -> DataFrame:
    """Multi-query binary probe: every query's Hamming scores come from
    ONE pass over the 16-byte code scan (the query codes broadcast -- at
    Q queries the scan does Q XOR+popcounts per row, still pure-integer
    codegen, instead of Q separate scans), one window cuts each query's
    k*oversample shortlist, and the exact re-rank touches full vectors
    only for the Q*k*oversample shortlist pairs. Output:
    (query_id, vec_id, distance, rank)."""
    from pyspark.sql import Window

    codes = _codes(spark, sf_dir)
    qcodes = codes.filter(F.col("vec_id") < num_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("lo").alias("qlo"),
        F.col("hi").alias("qhi"),
    )
    wsh = Window.partitionBy("query_id").orderBy("hamming", "vec_id")
    shortlist = (
        codes.crossJoin(F.broadcast(qcodes))
        .select(
            "query_id",
            "vec_id",
            (
                F.bit_count(F.col("lo").bitwiseXOR(F.col("qlo")))
                + F.bit_count(F.col("hi").bitwiseXOR(F.col("qhi")))
            )
            .cast("long")
            .alias("hamming"),
        )
        .withColumn("hrank", F.row_number().over(wsh))
        .filter(F.col("hrank") <= k * oversample)
        .select("query_id", "vec_id")
    )
    emb = load_table(spark, sf_dir, "embeddings")
    qvecs = emb.filter(F.col("vec_id") < num_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("q"),
    )
    w = Window.partitionBy("query_id").orderBy("distance", "vec_id")
    return (
        emb.join(F.broadcast(shortlist), "vec_id")
        .join(F.broadcast(qvecs), "query_id")
        .select(
            "query_id",
            "vec_id",
            distance_expr(metric, "embedding", "q").alias("distance"),
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def bq_knn_batch_oracle(
    metric: str = "cosine",
    k: int = 5,
    num_queries: int = 8,
    oversample: int = 3,
    dim: int = DIM,
) -> str:
    d = oracle_distance_sql(metric, "e.ee", "qv.q")
    return f"""
WITH {_oracle_codes_cte(dim)},
qc AS (SELECT vec_id AS query_id, lo AS qlo, hi AS qhi FROM c
       WHERE vec_id < {num_queries}),
ham AS (
  SELECT qc.query_id, c.vec_id,
         CAST(bit_count(xor(c.lo, qc.qlo)) + bit_count(xor(c.hi, qc.qhi)) AS BIGINT)
           AS hamming,
         row_number() OVER (PARTITION BY qc.query_id
                            ORDER BY bit_count(xor(c.lo, qc.qlo))
                                     + bit_count(xor(c.hi, qc.qhi)), c.vec_id)
           AS hrank
  FROM c, qc),
shortlist AS (SELECT query_id, vec_id FROM ham WHERE hrank <= {k * oversample}),
qv AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS q FROM embeddings
       WHERE vec_id < {num_queries}),
e AS (SELECT vec_id, embedding::DOUBLE[] AS ee FROM embeddings),
scored AS (
  SELECT s.query_id, s.vec_id, {d} AS distance,
         row_number() OVER (PARTITION BY s.query_id ORDER BY {d}, s.vec_id) AS rank
  FROM shortlist s
  JOIN e ON e.vec_id = s.vec_id
  JOIN qv ON qv.query_id = s.query_id)
SELECT query_id, vec_id, distance, rank
FROM scored WHERE rank <= {k}
""".strip()


def bq_recall(
    spark: SparkSession,
    sf_dir: str,
    metric: str = "cosine",
    k: int = 10,
    query_vec_id: int = 0,
    oversample: int = 3,
) -> DataFrame:
    """Recall@k of the re-ranked binary probe vs the exact scan, both sides
    deterministic closed-form SQL -- the measured approximation error of
    the 16x compression, re-derived end-to-end by the oracle (the SQ8
    recall pattern, operators/sq.py)."""
    from .knn import flat_knn

    exact = flat_knn(spark, sf_dir, metric, k=k, query_vec_id=query_vec_id).select(
        "vec_id"
    )
    approx = bq_knn_rerank(
        spark, sf_dir, metric, k=k, query_vec_id=query_vec_id, oversample=oversample
    ).select("vec_id")
    return (
        exact.join(approx, "vec_id")
        .agg(F.count(F.lit(1)).alias("n_matched"))
        .select(
            F.lit(k).alias("k"),
            "n_matched",
            (F.col("n_matched").cast("double") / F.lit(float(k))).alias("recall_at_k"),
        )
    )


def bq_recall_oracle(
    metric: str = "cosine",
    k: int = 10,
    query_vec_id: int = 0,
    oversample: int = 3,
) -> str:
    from .knn import flat_knn_oracle

    flat = flat_knn_oracle(metric, k=k, query_vec_id=query_vec_id)
    approx = bq_knn_rerank_oracle(
        metric, k=k, query_vec_id=query_vec_id, oversample=oversample
    )
    return f"""
WITH flat AS ({flat}),
approx AS ({approx}),
m AS (SELECT count(*) AS n_matched FROM flat JOIN approx USING (vec_id))
SELECT {k} AS k, n_matched, n_matched::DOUBLE / {float(k)!r} AS recall_at_k FROM m
""".strip()
