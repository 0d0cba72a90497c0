"""SQ8 scalar quantization: per-dimension uint8 codes + asymmetric k-NN.

The third classic ANN compression next to IVF (operators/ivf.py) and PQ
(operators/pq.py): train per-dimension [min, max] ranges over the corpus,
quantize every coordinate to an 8-bit bucket, and answer queries with
asymmetric distance (full-precision query vs bucket-center reconstruction).
The reference engine has no quantizer at all (its only compression is
float32 canonicalization, vector_db/indexes.py:92); SQ8 is the 100 TB
extension: 4x smaller index than float32 with near-exact recall.

Unlike IVF/PQ (k-means training -> rows-only checks), SQ8's training is
min/max -- exact, order-independent, engine-portable -- so the ENTIRE path
(train -> quantize -> reconstruct -> distance -> top-k) is deterministic
and hash-checked against the DuckDB oracle. This is the one ANN compressor
where the correctness gate covers the distances themselves.

Determinism contract: min/max aggregates are exact; quantization uses
floor((v-mn)/(mx-mn)*256) clamped to 255 (floor, not round -- no half-up
boundary ambiguity); reconstruction is the bucket center mn+(c+0.5)/256*
(mx-mn). Every step is a single IEEE double op on identical operands in
both engines, so distances are bit-identical before the shared 6-dp round.

Scale notes (100 TB thinking):
  - Training is ONE scan with partial aggregation: 2*d doubles per
    partition flow to the driver -- no shuffle of vectors, any corpus size.
  - The ranges row enters the query as a broadcast (one row); the scan
    side never shuffles, and quantize+reconstruct+distance run inside
    whole-stage codegen (pure array expressions, no Python).
  - In production the uint8 codes persist as the index table (4x less IO
    than float32); here quantization is fused into the query so the gate
    also covers the encode step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import _memo
from ..functions.vector import distance_expr, oracle_distance_sql
from ..sources.tables import arrow_local_df, load_table

DIM = 64
LEVELS = 256

@_memo.per_app
def _minmax(spark: SparkSession, sf_dir: str, dim: int) -> tuple[list, list]:
    """Per-dimension (mins, maxs) -- the trained quantizer. Elementwise
    min/max as 2*dim scalar aggregates in one pass (partial aggregation;
    nothing but the 2*dim result moves). Memoized per (application,
    sf_dir): the ranges are the train-once artifact all four sq8 queries
    share, so only the first query pays the training scan (mirrors the
    centroid/codebook memos)."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    row = emb.agg(
        F.array(*[F.min(e[i].cast("double")) for i in range(dim)]).alias("mins"),
        F.array(*[F.max(e[i].cast("double")) for i in range(dim)]).alias("maxs"),
    ).collect()[0]
    return list(row["mins"]), list(row["maxs"])


def sq8_ranges(spark: SparkSession, sf_dir: str, dim: int = DIM) -> DataFrame:
    """One-row DataFrame of per-dimension (mins, maxs) double arrays."""
    mins, maxs = _minmax(spark, sf_dir, dim)
    return arrow_local_df(
        spark, {"mins": [mins], "maxs": [maxs]},
        "mins array<double>, maxs array<double>",
    )


_RECON = (
    "transform(arrays_zip(ed, mins, maxs), z -> "
    "CASE WHEN z.maxs = z.mins THEN z.mins "
    "ELSE z.mins + (least(floor((z.ed - z.mins) / (z.maxs - z.mins) * 256.0D), 255.0D) + 0.5D) "
    "/ 256.0D * (z.maxs - z.mins) END)"
)


def sq8_knn(
    spark: SparkSession,
    sf_dir: str,
    metric: str = "cosine",
    k: int = 10,
    query_vec_id: int = 0,
) -> DataFrame:
    """Asymmetric SQ8 k-NN: quantize+reconstruct each corpus vector to its
    bucket center, full-precision query, exact top-k over the compressed
    representation."""
    if k <= 0:
        raise ValueError("k must be > 0")
    emb = load_table(spark, sf_dir, "embeddings")
    q = (
        emb.filter(F.col("vec_id") == query_vec_id)
        .select(F.col("embedding").cast("array<double>").alias("q"))
    )
    recon = (
        emb.select("vec_id", F.col("embedding").cast("array<double>").alias("ed"))
        .crossJoin(F.broadcast(sq8_ranges(spark, sf_dir)))
        .select("vec_id", F.expr(_RECON).alias("r"))
    )
    return (
        recon.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            distance_expr(metric, "r", "q").alias("distance"),
        )
        .orderBy("distance", "vec_id")
        .limit(k)
    )


def sq8_knn_oracle(metric: str = "cosine", k: int = 10, query_vec_id: int = 0, dim: int = DIM) -> str:
    d = oracle_distance_sql(metric, "r.rr", "q.qe")
    return f"""
WITH mm AS (
  SELECT i, min((embedding::DOUBLE[])[i + 1]) AS mn,
         max((embedding::DOUBLE[])[i + 1]) AS mx
  FROM embeddings, range({dim}) t(i)
  GROUP BY i),
mma AS (SELECT list(mn ORDER BY i) AS mins, list(mx ORDER BY i) AS maxs FROM mm),
r AS (
  SELECT vec_id,
         list_transform(list_zip(embedding::DOUBLE[], mins, maxs), z ->
           CASE WHEN z[3] = z[2] THEN z[2]
           ELSE z[2] + (least(floor((z[1] - z[2]) / (z[3] - z[2]) * 256.0), 255.0) + 0.5)
                / 256.0 * (z[3] - z[2]) END) AS rr
  FROM embeddings, mma),
q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = {query_vec_id})
SELECT r.vec_id AS vec_id, {d} AS distance
FROM r, q
ORDER BY distance, vec_id
LIMIT {k}
""".strip()


def sq8_knn_rerank(
    spark: SparkSession,
    sf_dir: str,
    metric: str = "cosine",
    k: int = 10,
    query_vec_id: int = 0,
    oversample: int = 3,
) -> DataFrame:
    """Two-stage ANN: SQ8 shortlist (k*oversample by asymmetric distance
    over the compressed representation) -> exact re-rank over the full
    vectors. The production shape: stage 1 scans 4x-smaller codes, stage 2
    reads full precision for only k*oversample rows (a broadcast semi-join
    -- the shortlist is tiny by construction).

    Because SQ8 distances are deterministic, the WHOLE two-stage pipeline
    is hash-checked -- the only shortlist+rerank form in the engine whose
    intermediate stage the oracle reproduces exactly (PQ's k-means
    shortlist is rows-only).
    """
    shortlist = sq8_knn(spark, sf_dir, metric, k=k * oversample, query_vec_id=query_vec_id)
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


def sq8_knn_rerank_oracle(
    metric: str = "cosine",
    k: int = 10,
    query_vec_id: int = 0,
    oversample: int = 3,
    dim: int = DIM,
) -> str:
    inner = sq8_knn_oracle(metric, k=k * oversample, query_vec_id=query_vec_id, dim=dim)
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
# Recall@k of the SQ8 probe vs the exact scan, fully under the gate: unlike
# LSH/IVF recall (whose probes the oracle replicates structurally), BOTH
# sides here are deterministic closed-form SQL, so this is the compressor
# whose measured approximation error the oracle re-derives end-to-end.
# --------------------------------------------------------------------------

def sq8_recall(
    spark: SparkSession,
    sf_dir: str,
    metric: str = "cosine",
    k: int = 10,
    query_vec_id: int = 0,
) -> DataFrame:
    from .knn import flat_knn

    exact = flat_knn(spark, sf_dir, metric, k=k, query_vec_id=query_vec_id).select("vec_id")
    approx = sq8_knn(spark, sf_dir, metric, k=k, query_vec_id=query_vec_id).select("vec_id")
    return (
        exact.join(approx, "vec_id")
        .agg(F.count(F.lit(1)).alias("n_matched"))
        .select(
            F.lit(k).alias("k"),
            "n_matched",
            (F.col("n_matched").cast("double") / F.lit(float(k))).alias("recall_at_k"),
        )
    )


def sq8_recall_oracle(
    metric: str = "cosine", k: int = 10, query_vec_id: int = 0
) -> str:
    from .knn import flat_knn_oracle

    flat = flat_knn_oracle(metric, k=k, query_vec_id=query_vec_id)
    approx = sq8_knn_oracle(metric, k=k, query_vec_id=query_vec_id)
    return f"""
WITH flat AS ({flat}),
approx AS ({approx}),
m AS (SELECT count(*) AS n_matched FROM flat JOIN approx USING (vec_id))
SELECT {k} AS k, n_matched, n_matched::DOUBLE / {float(k)!r} AS recall_at_k FROM m
""".strip()
