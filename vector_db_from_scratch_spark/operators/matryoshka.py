"""Matryoshka / truncated-dimension ANN: coarse scoring on a prefix of the
embedding, exact re-rank on the full vector.

Adaptive-retrieval shape from Matryoshka Representation Learning
(Kusupati et al., 2022, arXiv:2205.13147): embeddings trained so that any
prefix of the dimensions is itself a usable lower-fidelity embedding. The
retrieval funnel scores the WHOLE corpus on the first ``prefix_dim``
coordinates (a 4x narrower scan at 16 of 64 dims), keeps a k*oversample
shortlist, and re-ranks only those rows at full dimension. The reference
engine always scans full vectors (vector_db/indexes.py:108-123); the
prefix funnel is the 100 TB column-IO lever: a separate narrow "head"
column (or parquet column chunk) serves stage 1 and the wide vector column
is read late and only for the shortlist.

Unlike BQ/SQ8 there is no trained artifact at all -- truncation IS the
compressor -- so both stages are plain distance expressions and the whole
funnel (prefix distance -> shortlist cut -> exact re-rank) is hash-checked
against the DuckDB oracle. Both engines slice the double-cast list and run
the SAME shared fold (functions/vector.py), so stage-1 distances are
bit-identical before the shared 6-dp round; the shortlist cut orders by
(distance, vec_id) so the cut row is the same everywhere.

Scale notes (100 TB thinking):
  - Stage 1 reads prefix_dim/dim of the vector bytes (with a dedicated
    head column: exactly that fraction of IO) and is a zero-exchange
    TakeOrderedAndProject like every other probe here.
  - Stage 2 is a broadcast semi-join of a k*oversample id list -- the wide
    column is touched for a bounded row count regardless of corpus size.
  - The shape composes with the other compressors (a BQ or SQ8 stage 1 on
    the prefix would stack both ratios); kept single-technique here so the
    gate isolates the truncation error.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import _memo
from ..functions.vector import distance_expr, oracle_distance_sql
from ..sources.tables import load_table

PREFIX_DIM = 16
SWEEP_DIMS = (8, 16, 32, 64)

_SWEEP_MEMO: dict[tuple, DataFrame] = _memo.register({})


def matryoshka_knn(
    spark: SparkSession,
    sf_dir: str,
    metric: str = "cosine",
    k: int = 10,
    query_vec_id: int = 0,
    prefix_dim: int = PREFIX_DIM,
    oversample: int = 3,
) -> DataFrame:
    """Two-stage truncated-dim ANN: prefix-distance shortlist -> exact
    full-dimension re-rank. Deterministic end-to-end."""
    if k <= 0:
        raise ValueError("k must be > 0")
    if prefix_dim <= 0:
        raise ValueError("prefix_dim must be > 0")
    emb = load_table(spark, sf_dir, "embeddings")
    ed = F.col("embedding").cast("array<double>")
    head = F.slice(ed, 1, prefix_dim)
    qrow = emb.filter(F.col("vec_id") == query_vec_id).select(
        F.slice(ed, 1, prefix_dim).alias("qh"), ed.alias("q")
    )
    shortlist = (
        emb.select("vec_id", head.alias("h"))
        .crossJoin(F.broadcast(qrow.select("qh")))
        .select(
            "vec_id",
            distance_expr(metric, "h", "qh").alias("coarse"),
        )
        .orderBy("coarse", "vec_id")
        .limit(k * oversample)
    )
    return (
        emb.join(F.broadcast(shortlist.select("vec_id")), "vec_id")
        .crossJoin(F.broadcast(qrow.select("q")))
        .select(
            "vec_id",
            distance_expr(metric, "embedding", "q").alias("distance"),
        )
        .orderBy("distance", "vec_id")
        .limit(k)
    )


def matryoshka_knn_oracle(
    metric: str = "cosine",
    k: int = 10,
    query_vec_id: int = 0,
    prefix_dim: int = PREFIX_DIM,
    oversample: int = 3,
) -> str:
    dc = oracle_distance_sql(metric, "h.hh", "q.qh")
    d = oracle_distance_sql(metric, "e.ee", "q.qe")
    return f"""
WITH q AS (
  SELECT (embedding::DOUBLE[])[1:{prefix_dim}] AS qh, embedding::DOUBLE[] AS qe
  FROM embeddings WHERE vec_id = {query_vec_id}),
h AS (SELECT vec_id, (embedding::DOUBLE[])[1:{prefix_dim}] AS hh FROM embeddings),
shortlist AS (
  SELECT h.vec_id AS vec_id, {dc} AS coarse
  FROM h, q
  ORDER BY coarse, vec_id
  LIMIT {k * oversample}),
e AS (SELECT vec_id, embedding::DOUBLE[] AS ee FROM embeddings
      WHERE vec_id IN (SELECT vec_id FROM shortlist))
SELECT e.vec_id AS vec_id, {d} AS distance
FROM e, q
ORDER BY distance, vec_id
LIMIT {k}
""".strip()


def matryoshka_recall(
    spark: SparkSession,
    sf_dir: str,
    metric: str = "cosine",
    k: int = 10,
    query_vec_id: int = 0,
    prefix_dim: int = PREFIX_DIM,
    oversample: int = 3,
) -> DataFrame:
    """Recall@k of the truncated-dim funnel vs the exact scan -- the
    measured truncation error, both sides closed-form SQL (the SQ8/BQ
    recall pattern)."""
    from .knn import flat_knn

    exact = flat_knn(spark, sf_dir, metric, k=k, query_vec_id=query_vec_id).select(
        "vec_id"
    )
    approx = matryoshka_knn(
        spark,
        sf_dir,
        metric,
        k=k,
        query_vec_id=query_vec_id,
        prefix_dim=prefix_dim,
        oversample=oversample,
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


def matryoshka_dim_sweep(
    spark: SparkSession,
    sf_dir: str,
    metric: str = "cosine",
    k: int = 10,
    query_vec_id: int = 0,
    dims: tuple[int, ...] = SWEEP_DIMS,
    oversample: int = 3,
) -> DataFrame:
    """(prefix_dim, k, n_matched, recall_at_k) per truncation width -- the
    recall-vs-bytes TUNING CURVE an adaptive-retrieval deployment reads
    before fixing its head-column width (the nprobe-sweep pattern,
    operators/ivf.py). prefix_dim = full dimension is the exact-scan
    degeneracy: stage-1 distance IS the exact distance, so recall is
    exactly 1.0 (pinned in tests). The exact side is one checkpointed
    k-row table shared by every curve point; the whole bounded curve is
    memoized per (application, params)."""
    from .knn import flat_knn

    key = (
        spark.sparkContext.applicationId,
        sf_dir,
        "matryoshka_sweep",
        metric,
        k,
        query_vec_id,
        dims,
        oversample,
    )
    if key in _SWEEP_MEMO:
        return _SWEEP_MEMO[key].orderBy("prefix_dim")
    exact = (
        flat_knn(spark, sf_dir, metric, k=k, query_vec_id=query_vec_id)
        .select("vec_id")
        .localCheckpoint()
    )
    out = None
    for d in dims:
        approx = matryoshka_knn(
            spark,
            sf_dir,
            metric,
            k=k,
            query_vec_id=query_vec_id,
            prefix_dim=d,
            oversample=oversample,
        ).select("vec_id")
        row = (
            exact.join(approx, "vec_id")
            .agg(F.count(F.lit(1)).alias("n_matched"))
            .select(
                F.lit(d).alias("prefix_dim"),
                F.lit(k).alias("k"),
                "n_matched",
                (F.col("n_matched").cast("double") / F.lit(float(k))).alias(
                    "recall_at_k"
                ),
            )
        )
        out = row if out is None else out.unionAll(row)
    out = out.localCheckpoint()
    _SWEEP_MEMO[key] = out
    return out.orderBy("prefix_dim")


def matryoshka_dim_sweep_oracle(
    metric: str = "cosine",
    k: int = 10,
    query_vec_id: int = 0,
    dims: tuple[int, ...] = SWEEP_DIMS,
    oversample: int = 3,
) -> str:
    from .knn import flat_knn_oracle

    flat = flat_knn_oracle(metric, k=k, query_vec_id=query_vec_id)
    points = []
    for d in dims:
        inner = matryoshka_knn_oracle(
            metric,
            k=k,
            query_vec_id=query_vec_id,
            prefix_dim=d,
            oversample=oversample,
        )
        points.append(
            f"SELECT {d} AS prefix_dim, {k} AS k, "
            f"(SELECT count(*) FROM ({inner}) a JOIN flat USING (vec_id)) AS n_matched"
        )
    union = "\nUNION ALL\n".join(points)
    return f"""
WITH flat AS ({flat})
SELECT prefix_dim, k, n_matched,
       n_matched::DOUBLE / {float(k)!r} AS recall_at_k
FROM ({union})
ORDER BY prefix_dim
""".strip()


def matryoshka_recall_oracle(
    metric: str = "cosine",
    k: int = 10,
    query_vec_id: int = 0,
    prefix_dim: int = PREFIX_DIM,
    oversample: int = 3,
) -> str:
    from .knn import flat_knn_oracle

    flat = flat_knn_oracle(metric, k=k, query_vec_id=query_vec_id)
    approx = matryoshka_knn_oracle(
        metric,
        k=k,
        query_vec_id=query_vec_id,
        prefix_dim=prefix_dim,
        oversample=oversample,
    )
    return f"""
WITH flat AS ({flat}),
approx AS ({approx}),
m AS (SELECT count(*) AS n_matched FROM flat JOIN approx USING (vec_id))
SELECT {k} AS k, n_matched, n_matched::DOUBLE / {float(k)!r} AS recall_at_k FROM m
""".strip()
