"""Exact (flat) k-nearest-neighbor search -- the reference's flagship query.

Reference parity (SURVEY.md §2.9):
  - search orchestration: vector_db/services.py:164-181 + vector_store.py:229-259
  - flat index scan:      vector_db/indexes.py:61-89
  - metadata pre-filter:  vector_db/vector_store.py:250-265 (F1/F2) -- the
    filter is applied BEFORE any distance computation ("pre-search metadata
    filtering"); an empty candidate set short-circuits to [].
  - top-k:                vector_db/indexes.py:86-89; ties are undefined in
    the reference, so this engine defines the deterministic total order
    (distance, vec_id) and the oracle does the same.

Spark-first design:
  - The query vector is a 1-row DataFrame broadcast into a cross join -- no
    shuffle of the candidate side at any scale; the scan stays embarrassingly
    parallel and Catalyst pushes the label filter into the parquet scan.
  - ``orderBy(distance, id).limit(k)`` compiles to TakeOrderedAndProject:
    per-partition top-k heaps merged on the driver -- the optimal distributed
    top-k; no global sort is materialized even at 100 TB.
  - Multi-query batch: two-phase top-k. Phase 1 takes the per-partition
    top-k per query with a window over (query_id, partition_id) -- balanced
    keys, no skew even with few queries. Phase 2 ranks the surviving
    ``k * num_partitions`` rows per query -- tiny. A single window over
    query_id alone would funnel the full candidate set for one query through
    one task, which dies at cluster scale.
  - The ``_fast`` paths (``flat_knn_fast``, ``batch_knn_fast``,
    ``hard_negatives_fast``) share one NumPy exact-scan kernel,
    :func:`_local_topk`: a partition-local top-k per query in
    ``mapInArrow``, then one global top-k over the survivors. It uses the NumPy form of the
    distance contract in ``functions/vector.py`` (Arrow decode, metric
    formulas, ``round6``), so each ``_fast`` path rounds as the DuckDB
    oracle does and answers like its expression twin.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.vector import (
    arrow_embeddings,
    distance_expr,
    distance_matrix,
    oracle_distance_sql,
    round6,
)
from ..sources.tables import arrow_local_df, load_table
from . import _memo

EMB = "embeddings"

# (qids ndarray, qmat ndarray) of the first num_queries vectors; the
# collect is bounded by construction (num_queries rows), memoized so a
# long-lived session pays the lookup job once per query batch
@_memo.per_app
def _query_matrix(spark: SparkSession, sf_dir: str, num_queries: int):
    import numpy as np

    qrows = (
        load_table(spark, sf_dir, EMB)
        .filter(F.col("vec_id") < num_queries)
        .select("vec_id", "embedding")
        .collect()
    )
    qids = np.asarray([r["vec_id"] for r in qrows], dtype=np.int64)
    qmat = np.asarray(
        [[float(x) for x in r["embedding"]] for r in qrows], dtype=np.float64
    )
    return qids, qmat


@_memo.per_app
def query_vector(spark: SparkSession, sf_dir: str, vec_id: int) -> list[float]:
    """The query embedding as a driver-side float list (bounded request
    state: ONE row), memoized per (application, sf_dir, vec_id) -- the LSH
    probe needs it to compute the query bucket driver-side and was paying
    a collect job per invocation."""
    row = (
        load_table(spark, sf_dir, EMB)
        .filter(F.col("vec_id") == vec_id)
        .select("embedding")
        .collect()[0]
    )
    return [float(x) for x in row["embedding"]]


def query_vector_df(spark: SparkSession, sf_dir: str, vec_id: int) -> DataFrame:
    """1-row DataFrame holding the query embedding (analog of the search
    request body, vector_db/schemas.py:57-60)."""
    return (
        load_table(spark, sf_dir, EMB)
        .filter(F.col("vec_id") == vec_id)
        .select(F.col("embedding").alias("q"))
    )


def flat_knn(
    spark: SparkSession,
    sf_dir: str,
    metric: str = "cosine",
    k: int = 10,
    query_vec_id: int = 0,
    label_filter: int | None = None,
    query_literal: list[float] | None = None,
) -> DataFrame:
    """Exact k-NN over ``embeddings``: scan -> (filter) -> distance -> top-k.

    ``label_filter`` plays the role of the reference's conjunctive metadata
    equality pre-filter (label = value <=> metadata {"tag": value}).
    ``query_literal`` (when given) replaces the vec_id lookup -- used for the
    zero-vector probe that exercises the +inf cosine guard.
    """
    if k <= 0:
        raise ValueError("k must be > 0")  # vector_db/services.py:171-172
    emb = load_table(spark, sf_dir, EMB)
    if label_filter is not None:
        emb = emb.filter(F.col("label") == label_filter)  # F1/F2: filter BEFORE distance
    if query_literal is not None:
        q = F.array(*[F.lit(float(x)) for x in query_literal])
        joined = emb.withColumn("q", q)
    else:
        joined = emb.crossJoin(F.broadcast(query_vector_df(spark, sf_dir, query_vec_id)))
    return (
        joined.select(
            "vec_id",
            distance_expr(metric, "embedding", "q").alias("distance"),
        )
        .orderBy("distance", "vec_id")
        .limit(k)
    )


def flat_knn_oracle(
    metric: str = "cosine",
    k: int = 10,
    query_vec_id: int = 0,
    label_filter: int | None = None,
    query_literal: list[float] | None = None,
) -> str:
    """DuckDB SQL computing exactly :func:`flat_knn` (same rounding, same
    tie-break) on the pre-registered ``embeddings`` view."""
    where = f"WHERE label = {label_filter}" if label_filter is not None else ""
    d = oracle_distance_sql(metric, "e.ee", "q.qe")
    if query_literal is not None:
        vals = ", ".join(repr(float(x)) for x in query_literal)
        qsrc = f"(SELECT [{vals}]::DOUBLE[] AS qe) q"
    else:
        qsrc = f"(SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = {query_vec_id}) q"
    return f"""
SELECT e.vec_id AS vec_id, {d} AS distance
FROM (SELECT vec_id, embedding::DOUBLE[] AS ee FROM embeddings {where}) e, {qsrc}
ORDER BY distance, vec_id
LIMIT {k}
""".strip()


def _local_topk(
    emb: DataFrame,
    metric: str,
    qids: "np.ndarray",
    qmat: "np.ndarray",
    k: int,
    qlabels: "np.ndarray | None" = None,
) -> DataFrame:
    """The exact-scan kernel behind the ``_fast`` paths: ``(query_id,
    vec_id, distance)`` survivors, at most k per query (``qids[j]``, vector
    ``qmat[j]``) per Arrow batch, under :func:`flat_knn`'s contract.

    The partition-local half of REPOSE's shape; one global top-k over the
    ``<= k * num_batches`` survivors per query (:func:`_global_topk`, or a
    TakeOrderedAndProject for one query) completes it. Each ``mapInArrow``
    batch is decoded once, scored against every query in one
    :func:`distance_matrix` call (the driver-side query matrix rides in
    the task closure), rounded by :func:`round6`, and cut to each query's
    tie-inclusive local top-k. A row whose embedding is NULL, of the wrong
    length or with a NULL element gets a NULL distance and sorts first, as
    an ascending ``orderBy`` on :func:`distance_expr` puts it. With
    ``qlabels``, a row competes for query j only when its ``label`` is
    non-NULL and differs from ``qlabels[j]``."""
    import numpy as np
    import pyarrow as pa

    if k <= 0:
        raise ValueError("k must be > 0")

    def local_topk(it):
        for batch in it:
            if not batch.num_rows or not len(qids):
                continue
            ok, m = arrow_embeddings(batch.column("embedding"), qmat.shape[1])
            d = np.full((batch.num_rows, len(qids)), -np.inf)  # NULL rows first
            d[ok] = round6(distance_matrix(metric, m, qmat))
            ids = batch.column("vec_id").to_numpy(zero_copy_only=False)
            if qlabels is not None:
                labs = batch.column("label")
                lab_ok = labs.is_valid().to_numpy(zero_copy_only=False)
                labs = labs.fill_null(0).to_numpy(zero_copy_only=False)
            tops, cols = [], []
            for j in range(len(qids)):
                if qlabels is None:
                    rows = np.arange(len(ids))
                else:
                    rows = np.flatnonzero(lab_ok & (labs != qlabels[j]))
                if len(rows) > 4 * k:
                    # O(n) pre-select before the lexsort: keep every row not
                    # above the k-th smallest distance -- ties included, so
                    # the id tie-break stays exact under any partitioning
                    dj = d[rows, j]
                    rows = rows[~(dj > np.partition(dj, k - 1)[k - 1])]
                top = rows[np.lexsort((ids[rows], d[rows, j], ok[rows]))][:k]
                tops.append(top)
                cols.append(np.full(len(top), j))
            rows, cols = np.concatenate(tops), np.concatenate(cols)
            if len(rows):
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(qids[cols], pa.int64()),
                        pa.array(ids[rows], pa.int64()),
                        pa.array(d[rows, cols], pa.float64(), mask=~ok[rows]),
                    ],
                    names=["query_id", "vec_id", "distance"],
                )

    cols = ["vec_id", "embedding"] + (["label"] if qlabels is not None else [])
    return emb.select(*cols).mapInArrow(
        local_topk, "query_id long, vec_id long, distance double"
    )


def _global_topk(survivors: DataFrame, k: int) -> DataFrame:
    """Rank each query's :func:`_local_topk` survivors and keep the top k.
    A window over ``query_id`` alone is safe here (unlike over the raw
    scored set, see :func:`batch_knn`): it sees <= k * num_batches rows per
    query."""
    w = Window.partitionBy("query_id").orderBy("distance", "vec_id")
    return survivors.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )


def flat_knn_fast(
    spark: SparkSession,
    sf_dir: str,
    metric: str = "cosine",
    k: int = 10,
    query_vec_id: int = 0,
    label_filter: int | None = None,
) -> DataFrame:
    """Scale path for exact k-NN: :func:`flat_knn` through the NumPy
    exact-scan kernel :func:`_local_topk` with one query, then a
    TakeOrderedAndProject over the survivors.

    Same semantics and rounding contract as :func:`flat_knn` (identical
    output on the oracle comparison); the expression path keeps the
    reference-shaped declarative plan, this one removes the interpreted
    higher-order-function fold from the hot loop -- the difference between
    O(n) interpreted lambdas and O(n/batch) vectorized kernels at 100 TB.
    """
    import numpy as np

    emb = load_table(spark, sf_dir, EMB)
    if label_filter is not None:
        emb = emb.filter(F.col("label") == label_filter)
    q = np.asarray([query_vector(spark, sf_dir, query_vec_id)], dtype=np.float64)
    survivors = _local_topk(emb, metric, np.asarray([query_vec_id], dtype=np.int64), q, k)
    return survivors.select("vec_id", "distance").orderBy("distance", "vec_id").limit(k)


def batch_knn(
    spark: SparkSession,
    sf_dir: str,
    metric: str = "cosine",
    k: int = 5,
    num_queries: int = 8,
) -> DataFrame:
    """Multi-query k-NN (beyond the reference, which searches one query at a
    time under a global lock -- vector_db/vector_store.py:30,237).

    Two-phase top-k: local (query_id, partition_id) window, then global
    window over the k*P survivors. Deterministic under the (distance, vec_id)
    total order regardless of physical partitioning.
    """
    emb = load_table(spark, sf_dir, EMB)
    queries = (
        emb.filter(F.col("vec_id") < num_queries)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q"))
    )
    scored = emb.crossJoin(F.broadcast(queries)).select(
        "query_id",
        "vec_id",
        distance_expr(metric, "embedding", "q").alias("distance"),
    )
    local = Window.partitionBy("query_id", F.spark_partition_id()).orderBy(
        "distance", "vec_id"
    )
    survivors = (
        scored.withColumn("_rn", F.row_number().over(local)).filter(F.col("_rn") <= k)
    )
    global_w = Window.partitionBy("query_id").orderBy("distance", "vec_id")
    return (
        survivors.withColumn("rank", F.row_number().over(global_w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "distance", "rank")
    )


def batch_knn_oracle(metric: str = "cosine", k: int = 5, num_queries: int = 8) -> str:
    d = oracle_distance_sql(metric, "e.ee", "q.qe")
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
           FROM embeddings WHERE vec_id < {num_queries}),
     e AS (SELECT vec_id, embedding::DOUBLE[] AS ee FROM embeddings),
     scored AS (
       SELECT q.query_id AS query_id, e.vec_id AS vec_id, {d} AS distance,
              row_number() OVER (PARTITION BY q.query_id
                                 ORDER BY {d}, e.vec_id) AS rank
       FROM e, q)
SELECT query_id, vec_id, distance, rank
FROM scored WHERE rank <= {k}
""".strip()


def batch_knn_fast(
    spark: SparkSession,
    sf_dir: str,
    metric: str = "cosine",
    k: int = 5,
    num_queries: int = 8,
) -> DataFrame:
    """Scale path for multi-query k-NN: :func:`batch_knn` through the
    exact-scan kernel :func:`_local_topk`, which scores ALL queries against
    each Arrow batch at once, with the same oracle as :func:`batch_knn`.

    The query matrix is bounded by construction (``num_queries`` rows
    collected once, shipped in the task closure), the scan side streams
    through Arrow batches with no shuffle, and the global phase ranks only
    the ``<= k * num_batches`` survivors per query. This is where the
    engine most clearly beats the reference's one-query-at-a-time lock
    (vector_db/vector_store.py:30,237): amortizing the scan across the
    whole query batch costs one matrix product instead of Q scans.
    """
    qids, qmat = _query_matrix(spark, sf_dir, num_queries)
    survivors = _local_topk(load_table(spark, sf_dir, EMB), metric, qids, qmat, k)
    return _global_topk(survivors, k).select("query_id", "vec_id", "distance", "rank")


def radius_search(
    spark: SparkSession,
    sf_dir: str,
    metric: str = "cosine",
    radius: float = 0.35,
    query_vec_id: int = 0,
    limit: int = 100,
) -> DataFrame:
    """Range (radius) search: every vector within ``radius`` of the query,
    ascending -- the fixed-threshold twin of top-k (the reference caps by
    count, vector_db/indexes.py:86-89; production retrieval also needs the
    cap-by-distance form, e.g. "all near-duplicates of this embedding").

    Plan shape is identical to :func:`flat_knn` except the cutoff is a
    plain filter on the distance column: Catalyst keeps the scan
    embarrassingly parallel and TakeOrderedAndProject bounds the driver
    transfer by ``limit`` even when the radius over-matches.
    """
    emb = load_table(spark, sf_dir, EMB)
    joined = emb.crossJoin(F.broadcast(query_vector_df(spark, sf_dir, query_vec_id)))
    return (
        joined.select(
            "vec_id",
            distance_expr(metric, "embedding", "q").alias("distance"),
        )
        .filter(F.col("distance") <= radius)
        .orderBy("distance", "vec_id")
        .limit(limit)
    )


def radius_search_oracle(
    metric: str = "cosine",
    radius: float = 0.35,
    query_vec_id: int = 0,
    limit: int = 100,
) -> str:
    d = oracle_distance_sql(metric, "e.ee", "q.qe")
    return f"""
SELECT e.vec_id AS vec_id, {d} AS distance
FROM (SELECT vec_id, embedding::DOUBLE[] AS ee FROM embeddings) e,
     (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = {query_vec_id}) q
WHERE {d} <= {radius}
ORDER BY distance, vec_id
LIMIT {limit}
""".strip()


# --------------------------------------------------------------------------
# Multi-tenant k-NN: top-k per label partition in ONE query -- the engine
# analog of the reference's per-library index (every library owns its own
# index and searches never cross libraries, vector_db/vector_store.py:267-271).
# A Spark engine serves all tenants from one partitioned table instead of
# N per-tenant indexes: the window is over (label), so each tenant's top-k
# is computed inside its own hash partition -- one shuffle by label, no
# cross-tenant data movement, and tenant count scales the parallelism, not
# the per-task cost.
# --------------------------------------------------------------------------

def knn_per_label(
    spark: SparkSession,
    sf_dir: str,
    metric: str = "cosine",
    k: int = 3,
    query_vec_id: int = 0,
) -> DataFrame:
    """(label, rnk, vec_id, distance): exact top-k nearest to the query
    within every label group, deterministic (distance, vec_id) tie-break."""
    if k <= 0:
        raise ValueError("k must be > 0")
    emb = load_table(spark, sf_dir, EMB)
    joined = emb.crossJoin(F.broadcast(query_vector_df(spark, sf_dir, query_vec_id)))
    scored = joined.select(
        "label",
        "vec_id",
        distance_expr(metric, "embedding", "q").alias("distance"),
    )
    w = Window.partitionBy("label").orderBy("distance", "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("label", "rnk", "vec_id", "distance")
        .orderBy("label", "rnk")
    )


def knn_per_label_oracle(
    metric: str = "cosine", k: int = 3, query_vec_id: int = 0
) -> str:
    d = oracle_distance_sql(metric, "e.v", "q.qv")
    return f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {query_vec_id}),
scored AS (SELECT e.label, e.vec_id, {d} AS distance FROM e, q),
ranked AS (SELECT label, vec_id, distance,
                  row_number() OVER (PARTITION BY label
                                     ORDER BY distance, vec_id) AS rnk
           FROM scored)
SELECT label, rnk, vec_id, distance
FROM ranked WHERE rnk <= {k}
ORDER BY label, rnk
""".strip()


# --------------------------------------------------------------------------
# Matryoshka truncation quality: recall@k of the top-k computed on a short
# PREFIX of each embedding vs the full-dimension exact top-k -- the
# evaluation behind MRL-style truncated storage/search (Kusupati et al.,
# "Matryoshka Representation Learning", NeurIPS 2022): serve from the
# first d' dims (d'/d of the scan bytes, same plan shape), re-rank or
# accept the measured recall. Both sides are deterministic exact scans,
# so the whole report is hash-gated.
# --------------------------------------------------------------------------

def matryoshka_recall(
    spark: SparkSession,
    sf_dir: str,
    metric: str = "cosine",
    k: int = 10,
    query_vec_id: int = 0,
    prefix_dim: int = 16,
) -> DataFrame:
    """(prefix_dim, k, n_matched, recall_at_k): overlap of prefix-distance
    top-k with full-distance top-k. Two TakeOrderedAndProject subtrees over
    the same scan feeding a k-row join -- the recall report costs two
    probes at any scale, and the prefix probe reads prefix_dim/dim of the
    vector bytes once the prefix is materialized as its own column."""
    emb = load_table(spark, sf_dir, EMB)
    q = query_vector_df(spark, sf_dir, query_vec_id)
    full = flat_knn(spark, sf_dir, metric, k=k, query_vec_id=query_vec_id).select("vec_id")
    joined = emb.crossJoin(F.broadcast(q))
    prefix = (
        joined.select(
            "vec_id",
            distance_expr(
                metric,
                F.slice(F.col("embedding"), 1, prefix_dim),
                F.slice(F.col("q"), 1, prefix_dim),
            ).alias("distance"),
        )
        .orderBy("distance", "vec_id")
        .limit(k)
        .select("vec_id")
    )
    return (
        full.join(prefix, "vec_id")
        .agg(F.count(F.lit(1)).alias("n_matched"))
        .select(
            F.lit(prefix_dim).alias("prefix_dim"),
            F.lit(k).alias("k"),
            "n_matched",
            (F.col("n_matched").cast("double") / F.lit(float(k))).alias("recall_at_k"),
        )
    )


def matryoshka_recall_oracle(
    metric: str = "cosine", k: int = 10, query_vec_id: int = 0, prefix_dim: int = 16
) -> str:
    d_full = oracle_distance_sql(metric, "e.v", "q.qv")
    d_pre = oracle_distance_sql(metric, "e.p", "q.qp")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                  (embedding::DOUBLE[])[1:{prefix_dim}] AS p
           FROM embeddings),
q AS (SELECT embedding::DOUBLE[] AS qv,
             (embedding::DOUBLE[])[1:{prefix_dim}] AS qp
      FROM embeddings WHERE vec_id = {query_vec_id}),
full_k AS (SELECT e.vec_id FROM e, q ORDER BY {d_full}, e.vec_id LIMIT {k}),
pre_k AS (SELECT e.vec_id FROM e, q ORDER BY {d_pre}, e.vec_id LIMIT {k}),
m AS (SELECT count(*) AS n_matched FROM full_k JOIN pre_k USING (vec_id))
SELECT {prefix_dim} AS prefix_dim, {k} AS k, n_matched,
       n_matched::DOUBLE / {float(k)!r} AS recall_at_k
FROM m
""".strip()


# --------------------------------------------------------------------------
# MMR (Maximal Marginal Relevance, Carbonell & Goldstein 1998) diversity
# re-ranking -- the standard "don't return five near-duplicates" pass a
# vector search runs over its shortlist. Greedy: the first pick is the
# most relevant candidate; each later pick maximizes
#
#   score = LAMBDA * rel - (1 - LAMBDA) * max_{s in selected} sim(c, s)
#
# with rel = 1 - cosine_distance(q, c) and sim = 1 - cosine_distance(c, s).
#
# Portability: distances carry the shared round-6dp contract, so rel/sim
# are identical doubles in both engines; the score arithmetic is two
# exact-rounded multiplies and a subtract of identical inputs -> identical
# scores; ties break on vec_id. The K selection steps compose as ONE lazy
# plan (the bpe_train_merges / quantized-Lloyd discipline) over the
# broadcast-sized shortlist, and the oracle unrolls the greedy loop as a
# CTE chain -- every iteration's winner and score is under the hash gate.
#
# Scale: the expensive part (shortlist retrieval) is the existing top-k
# machinery (TakeOrdered / IVF probe); MMR itself touches N rows and N^2
# pairs with N fixed by the API (here 12) -- bounded work independent of
# corpus size, exactly how production rerankers run.
# --------------------------------------------------------------------------

MMR_N = 12
MMR_K = 5
MMR_LAMBDA = 0.7


def knn_mmr_rerank(
    spark: SparkSession,
    sf_dir: str,
    k: int = MMR_K,
    shortlist_n: int = MMR_N,
    lam: float = MMR_LAMBDA,
    query_vec_id: int = 0,
) -> DataFrame:
    """(rank, vec_id, relevance, mmr_score): the K MMR selections over the
    top-``shortlist_n`` cosine shortlist (query vector itself excluded).

    Every float that decides or appears in the result -- the rel/sim
    distances -- is computed by Spark's exact ``distance_expr`` path and
    collected once (shortlist_n rows + shortlist_n^2 pairs, bounded by the
    API); the greedy SELECTION runs on the driver. The previous form ran
    the k-1 dependent argmaxes as Spark jobs (anti-join + penalty join +
    union + localCheckpoint per step), paying per-iteration scheduling for
    comparisons over a <=shortlist_n-row table -- pure job-scheduling
    latency (guide §5: the driver should do almost no data work; a 12-row
    argmax is almost no data work). The driver arithmetic is the same IEEE
    double ops the Spark expressions performed (lam*rel, (1-lam)*maxsim,
    subtract, compare), so scores and tie-breaks are bit-identical --
    pinned by tests/test_r11_opt.py against the iterative form."""
    emb = load_table(spark, sf_dir, EMB).filter(F.col("vec_id") != query_vec_id)
    q = query_vector_df(spark, sf_dir, query_vec_id)
    short = (
        emb.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "embedding",
            (
                F.lit(1.0)
                - distance_expr("cosine", "embedding", "q")
            ).alias("rel"),
        )
        .orderBy(F.col("rel").desc(), "vec_id")
        .limit(shortlist_n)
        .cache()
    )
    a = short.select(F.col("vec_id").alias("a"), F.col("embedding").alias("va"))
    b = short.select(F.col("vec_id").alias("b"), F.col("embedding").alias("vb"))
    pair_rows = (
        a.crossJoin(b)
        .filter(F.col("a") != F.col("b"))
        .select(
            "a",
            "b",
            (
                F.lit(1.0) - distance_expr("cosine", "va", "vb")
            ).alias("sim"),
        )
        .collect()
    )
    rel = {r["vec_id"]: r["rel"] for r in short.select("vec_id", "rel").collect()}
    short.unpersist()
    sim = {(r["a"], r["b"]): r["sim"] for r in pair_rows}
    # greedy selection: first pick = max rel (ties -> smallest vec_id),
    # later picks maximize lam*rel - (1-lam)*maxsim over the chosen set;
    # NaN orders as the largest score, as in Spark and DuckDB (a zero-norm
    # row scores -inf + inf = NaN), and at most len(rel) rows are picked
    def best(score: dict[int, float]) -> int:
        nan = {v for v, x in score.items() if math.isnan(x)}
        if nan:
            return min(nan)
        return max(score, key=lambda v: (score[v], -v))

    sel: list[tuple[int, int, float, float]] = []
    maxsim: dict[int, float] = {}
    for i in range(1, min(k, len(rel)) + 1):
        if not sel:
            pick = best(rel)
            score = lam * rel[pick]
        else:
            last = sel[-1][1]
            for v in rel:
                if v != last:
                    s = sim[(v, last)]
                    if v not in maxsim or s > maxsim[v] or math.isnan(s):
                        maxsim[v] = s
            chosen = {r[1] for r in sel}
            cand = {
                v: lam * rel[v] - (1.0 - lam) * maxsim[v]
                for v in rel
                if v not in chosen
            }
            pick = best(cand)
            score = cand[pick]
        sel.append((i, pick, rel[pick], score))
    local = arrow_local_df(
        spark,
        {
            "rank": [r[0] for r in sel],
            "vec_id": [r[1] for r in sel],
            "rel": [r[2] for r in sel],
            "score": [r[3] for r in sel],
        },
        "rank long, vec_id long, rel double, score double",
    )
    return local.select(
        "rank",
        "vec_id",
        (F.round("rel", 6) + F.lit(0.0)).alias("relevance"),
        (F.round("score", 6) + F.lit(0.0)).alias("mmr_score"),
    ).orderBy("rank")


def knn_mmr_rerank_oracle(
    k: int = MMR_K,
    shortlist_n: int = MMR_N,
    lam: float = MMR_LAMBDA,
    query_vec_id: int = 0,
) -> str:
    dq = oracle_distance_sql("cosine", "e.v", "q.qv")
    dp = oracle_distance_sql("cosine", "a.v", "b.v")
    ctes = [
        f"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       WHERE vec_id != {query_vec_id})""",
        f"""q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
       WHERE vec_id = {query_vec_id})""",
        f"""short AS (SELECT e.vec_id, e.v, 1.0 - {dq} AS rel
          FROM e, q ORDER BY rel DESC, e.vec_id LIMIT {shortlist_n})""",
        f"""pairs AS (SELECT a.vec_id AS a, b.vec_id AS b, 1.0 - {dp} AS sim
          FROM short a, short b WHERE a.vec_id != b.vec_id)""",
        f"""sel1 AS (SELECT 1 AS rank, vec_id, rel, {lam!r} * rel AS score
        FROM short ORDER BY rel DESC, vec_id LIMIT 1)""",
        "all1 AS (SELECT * FROM sel1)",
    ]
    for i in range(2, k + 1):
        prev = f"all{i - 1}"
        ctes.append(
            f"""sel{i} AS (
  SELECT {i} AS rank, r.vec_id, r.rel,
         {lam!r} * r.rel - {1.0 - lam!r} * max(p.sim) AS score
  FROM short r
  JOIN pairs p ON p.a = r.vec_id AND p.b IN (SELECT vec_id FROM {prev})
  WHERE r.vec_id NOT IN (SELECT vec_id FROM {prev})
  GROUP BY r.vec_id, r.rel
  ORDER BY score DESC, r.vec_id LIMIT 1)"""
        )
        ctes.append(
            f"all{i} AS (SELECT * FROM {prev} UNION ALL SELECT * FROM sel{i})"
        )
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT rank::BIGINT AS rank, vec_id,
       (round(rel, 6) + 0.0) AS relevance,
       (round(score, 6) + 0.0) AS mmr_score
FROM all{k}
ORDER BY rank
""".strip()


# --------------------------------------------------------------------------
# Hard-negative mining: for each anchor vector, the nearest neighbours whose
# label DIFFERS -- the contrastive-training data op (most-confusable
# negatives are the ones worth training on). Anchor set is a deterministic
# subset so the output stays bounded; per-anchor work is the same bounded
# window as knn_per_label. At 100 TB anchors ride broadcast (they are the
# small side by construction) and the candidate scan is one pass.
# --------------------------------------------------------------------------

HN_ANCHOR_MOD = 25  # anchors: vec_id % HN_ANCHOR_MOD == 0
HN_K = 5


def hard_negatives(
    spark: SparkSession,
    sf_dir: str,
    k: int = HN_K,
    anchor_mod: int = HN_ANCHOR_MOD,
) -> DataFrame:
    """(anchor_id, rank, vec_id, distance): per anchor, the k nearest
    OTHER-label vectors by round-6dp cosine with the (distance, vec_id)
    tie-break."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, EMB).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"), "label"
    )
    anchors = emb.filter(F.col("vec_id") % anchor_mod == 0).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("v").alias("av"),
        F.col("label").alias("alabel"),
    )
    scored = (
        emb.join(F.broadcast(anchors), F.col("label") != F.col("alabel"))
        .select(
            "anchor_id",
            "vec_id",
            distance_expr("cosine", "v", "av").alias("distance"),
        )
    )
    rn = F.row_number().over(
        Window.partitionBy("anchor_id").orderBy("distance", "vec_id")
    )
    return (
        scored.withColumn("rank", rn)
        .filter(F.col("rank") <= k)
        .select("anchor_id", F.col("rank").cast("long").alias("rank"), "vec_id", "distance")
        .orderBy("anchor_id", "rank")
    )


def hard_negatives_oracle(k: int = HN_K, anchor_mod: int = HN_ANCHOR_MOD) -> str:
    d = oracle_distance_sql("cosine", "e.v", "a.av")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
a AS (SELECT vec_id AS anchor_id, v AS av, label AS alabel FROM e
      WHERE vec_id % {anchor_mod} = 0),
scored AS (SELECT a.anchor_id, e.vec_id, {d} AS distance
           FROM e JOIN a ON e.label <> a.alabel),
ranked AS (SELECT anchor_id, vec_id, distance,
                  row_number() OVER (PARTITION BY anchor_id
                                     ORDER BY distance, vec_id) AS rank
           FROM scored)
SELECT anchor_id, rank::BIGINT AS rank, vec_id, distance
FROM ranked WHERE rank <= {k}
ORDER BY anchor_id, rank
""".strip()


def hard_negatives_fast(
    spark: SparkSession,
    sf_dir: str,
    k: int = HN_K,
    anchor_mod: int = HN_ANCHOR_MOD,
) -> DataFrame:
    """Scale path for :func:`hard_negatives` -- identical semantics and
    oracle, executed by the exact-scan kernel :func:`_local_topk` over the
    bounded anchor matrix (n / anchor_mod rows, collected once and shipped
    in the task closure), with the same-label mask applied in the kernel.
    Zero-norm rows keep +inf distances (they are legitimate cosine
    candidates) and ties break on (distance, vec_id)."""
    import numpy as np

    emb = load_table(spark, sf_dir, EMB)
    arows = (
        emb.filter(F.col("vec_id") % anchor_mod == 0)
        .select("vec_id", "embedding", "label")
        .collect()
    )
    aid = np.asarray([r["vec_id"] for r in arows], dtype=np.int64)
    alab = np.asarray([r["label"] for r in arows], dtype=np.int64)
    A = np.asarray(
        [[float(x) for x in r["embedding"]] for r in arows], dtype=np.float64
    )
    return (
        _global_topk(_local_topk(emb, "cosine", aid, A, k, qlabels=alab), k)
        .select(F.col("query_id").alias("anchor_id"), "rank", "vec_id", "distance")
        .orderBy("anchor_id", "rank")
    )


# --------------------------------------------------------------------------
# Retrieval-quality evaluation: per-label MRR@k / hit-rate@k of cosine
# retrieval against a label-derived relevance judgment (same label =
# relevant) -- the eval harness a training-data pipeline runs after every
# embedding refresh. Reciprocal ranks are exact rationals quantized to
# half-up micro-units so the metric itself hash-gates.
# --------------------------------------------------------------------------

MRR_K = 10
MRR_QMOD = 25  # queries: vec_id % MRR_QMOD == 0 (HN anchor discipline)


@_memo.per_app
def _relevant_topk(
    spark: SparkSession, sf_dir: str, k: int, query_mod: int
) -> DataFrame:
    """(qid, qlabel, rank): the same-label rows of each query's top-k by
    round-6dp cosine with the (distance, vec_id) tie-break -- the shared
    judgment subtree of retrieval_mrr AND retrieval_ndcg. Memoized +
    localCheckpointed per (application, sf_dir, k, query_mod): it is
    bounded (<= n_queries * k rows) and both metrics were re-running the
    corpus-x-queries scored join per call (~5-6s warm each at sf0.1)."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, EMB).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"), "label"
    )
    queries = emb.filter(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("label").alias("qlabel"),
    )
    scored = emb.join(F.broadcast(queries), F.col("vec_id") != F.col("qid")).select(
        "qid",
        "qlabel",
        "label",
        distance_expr("cosine", "v", "qv").alias("distance"),
        "vec_id",
    )
    rn = F.row_number().over(Window.partitionBy("qid").orderBy("distance", "vec_id"))
    return (
        scored.withColumn("rank", rn.cast("long"))
        .filter((F.col("rank") <= k) & (F.col("label") == F.col("qlabel")))
        .select("qid", "qlabel", "rank")
        .localCheckpoint()
    )


def retrieval_mrr(
    spark: SparkSession,
    sf_dir: str,
    k: int = MRR_K,
    query_mod: int = MRR_QMOD,
) -> DataFrame:
    """(label, n_queries, hits, hit_rate, mrr): mean reciprocal rank at k
    of exact cosine retrieval, judged by label agreement, grouped by the
    query's label.

    rr(q) = round_half_up(1e6 / rank of first same-label hit) micro-units
    (0 when no hit in the top k, self excluded); MRR and hit-rate are one
    IEEE division each on exact integer operands.

    Plan: bounded query set broadcast against the corpus (the
    hard_negatives shape), per-query window over <= |corpus| rows
    partitioned by query id, then two bounded aggregations -- output is
    one row per label. At 100 TB the scored join swaps to the IVF/LSH
    probe path; the judgment and metric pipeline is unchanged.
    """
    emb = load_table(spark, sf_dir, EMB).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"), "label"
    )
    queries = emb.filter(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("label").alias("qlabel"),
    )
    first_rel = (
        _relevant_topk(spark, sf_dir, k, query_mod)
        .groupBy("qid")
        .agg(F.min("rank").cast("long").alias("r"))
    )
    # half-up micro-unit reciprocal rank: (2e6 + r) div (2r), exact ints
    rr_u = (
        (F.lit(2 * 1_000_000) + F.col("r"))
        - F.pmod(F.lit(2 * 1_000_000) + F.col("r"), F.lit(2) * F.col("r"))
    ) / (F.lit(2) * F.col("r"))
    per_q = (
        queries.join(first_rel, "qid", "left")
        .select(
            "qlabel",
            F.coalesce(rr_u.cast("long"), F.lit(0)).alias("rr_u"),
            F.when(F.col("r").isNotNull(), 1).otherwise(0).alias("hit"),
        )
    )
    return (
        per_q.groupBy(F.col("qlabel").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.sum("hit").cast("long").alias("hits"),
            F.sum("rr_u").cast("long").alias("sum_rr_u"),
        )
        .select(
            "label",
            "n_queries",
            "hits",
            (F.col("hits").cast("double") / F.col("n_queries").cast("double")).alias(
                "hit_rate"
            ),
            (
                (F.col("sum_rr_u").cast("double") / F.lit(1_000_000.0))
                / F.col("n_queries").cast("double")
            ).alias("mrr"),
        )
        .orderBy("label")
    )


def retrieval_mrr_oracle(k: int = MRR_K, query_mod: int = MRR_QMOD) -> str:
    d = oracle_distance_sql("cosine", "e.v", "q.qv")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
q AS (SELECT vec_id AS qid, v AS qv, label AS qlabel FROM e
      WHERE vec_id % {query_mod} = 0),
scored AS (SELECT q.qid, q.qlabel, e.vec_id, e.label, {d} AS distance
           FROM e JOIN q ON e.vec_id <> q.qid),
ranked AS (SELECT qid, qlabel, label, distance,
                  row_number() OVER (PARTITION BY qid
                                     ORDER BY distance, vec_id) AS rank
           FROM scored),
first_rel AS (SELECT qid, min(rank)::BIGINT AS r FROM ranked
              WHERE rank <= {k} AND label = qlabel GROUP BY qid),
per_q AS (SELECT q.qlabel,
                 coalesce((2000000 + f.r) // (2 * f.r), 0)::BIGINT AS rr_u,
                 CASE WHEN f.r IS NOT NULL THEN 1 ELSE 0 END AS hit
          FROM q LEFT JOIN first_rel f ON f.qid = q.qid)
SELECT qlabel AS label, count(*)::BIGINT AS n_queries,
       sum(hit)::BIGINT AS hits,
       (sum(hit)::BIGINT::DOUBLE / count(*)::DOUBLE) AS hit_rate,
       ((sum(rr_u)::BIGINT::DOUBLE / 1000000.0) / count(*)::DOUBLE) AS mrr
FROM per_q GROUP BY qlabel ORDER BY qlabel
""".strip()


def _dcg_discount_rows(k: int) -> list[tuple[int, int, int]]:
    """(rank, disc_u, cum_u) for ranks 1..k: disc = 1/log2(rank+1) rounded
    to 6dp then scaled to exact micro-unit ints, cum = prefix sum (the
    IDCG of an all-relevant prefix of that length). Computed ONCE driver-
    side and embedded as literals in BOTH engines' plans -- the metric's
    constant table, so no cross-engine libm call exists at all."""
    import math

    rows, cum = [], 0
    for r in range(1, k + 1):
        disc = round(round(math.log(2) / math.log(r + 1), 6) * 1_000_000)
        cum += disc
        rows.append((r, disc, cum))
    return rows


def retrieval_ndcg(
    spark: SparkSession,
    sf_dir: str,
    k: int = MRR_K,
    query_mod: int = MRR_QMOD,
) -> DataFrame:
    """(label, n_queries, mean_ndcg): binary-relevance nDCG@k of exact
    cosine retrieval judged by label agreement, per query-label.

    DCG sums the literal discount table over same-label positions in the
    top k; IDCG is the prefix-sum entry at min(R, k) where R = corpus
    same-label count minus self (labels with a single member contribute
    no query). Per-query nDCG is quantized half-up to micro-units BEFORE
    the per-label mean, so every aggregation is an integer sum and the
    metric hash-gates. Same bounded plan shape as :func:`retrieval_mrr`.
    """
    from ..sources.tables import arrow_local_df

    emb = load_table(spark, sf_dir, EMB).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"), "label"
    )
    queries = emb.filter(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("label").alias("qlabel"),
    )
    rows = _dcg_discount_rows(k)
    # arrow_local_df, not createDataFrame: tuple-list local relations
    # re-serialize per action on this build (round-3 lesson)
    disc = arrow_local_df(
        spark,
        {
            "rank": [r[0] for r in rows],
            "disc_u": [r[1] for r in rows],
            "cum_u": [r[2] for r in rows],
        },
        "rank long, disc_u long, cum_u long",
    )
    dcg = (
        _relevant_topk(spark, sf_dir, k, query_mod)
        .join(F.broadcast(disc.select("rank", "disc_u")), "rank")
        .groupBy("qid")
        .agg(F.sum("disc_u").alias("dcg_u"))
    )
    labcnt = emb.groupBy(F.col("label").alias("qlabel")).agg(
        F.count(F.lit(1)).alias("c")
    )
    ideal = (
        queries.join(F.broadcast(labcnt), "qlabel")
        .select(
            "qid",
            "qlabel",
            F.least(F.col("c") - F.lit(1), F.lit(k)).cast("long").alias("m"),
        )
        .filter(F.col("m") >= 1)
        .join(
            F.broadcast(disc.select(F.col("rank").alias("m"), "cum_u")), "m"
        )
        .select("qid", "qlabel", F.col("cum_u").alias("idcg_u"))
    )
    # half-up micro nDCG: (2 * 1e6 * dcg + idcg) div (2 * idcg), exact ints
    num = F.lit(2) * F.lit(1_000_000) * F.col("dcg_u") + F.col("idcg_u")
    den = F.lit(2) * F.col("idcg_u")
    ndcg_u = ((num - F.pmod(num, den)) / den).cast("long")
    per_q = (
        ideal.join(dcg, "qid", "left")
        .select(
            "qlabel",
            F.coalesce(ndcg_u, F.lit(0)).alias("ndcg_u"),
        )
    )
    return (
        per_q.groupBy(F.col("qlabel").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.sum("ndcg_u").cast("long").alias("sum_u"),
        )
        .select(
            "label",
            "n_queries",
            (
                (F.col("sum_u").cast("double") / F.lit(1_000_000.0))
                / F.col("n_queries").cast("double")
            ).alias("mean_ndcg"),
        )
        .orderBy("label")
    )


def retrieval_ndcg_oracle(k: int = MRR_K, query_mod: int = MRR_QMOD) -> str:
    d = oracle_distance_sql("cosine", "e.v", "q.qv")
    disc_vals = ", ".join(
        f"({r}, {du}, {cu})" for r, du, cu in _dcg_discount_rows(k)
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
q AS (SELECT vec_id AS qid, v AS qv, label AS qlabel FROM e
      WHERE vec_id % {query_mod} = 0),
disc(rank, disc_u, cum_u) AS (VALUES {disc_vals}),
scored AS (SELECT q.qid, q.qlabel, e.label, {d} AS distance, e.vec_id
           FROM e JOIN q ON e.vec_id <> q.qid),
ranked AS (SELECT qid, qlabel, label,
                  row_number() OVER (PARTITION BY qid
                                     ORDER BY distance, vec_id) AS rank
           FROM scored),
dcg AS (SELECT qid, sum(disc_u)::BIGINT AS dcg_u
        FROM ranked JOIN disc USING (rank)
        WHERE rank <= {k} AND label = qlabel GROUP BY qid),
labcnt AS (SELECT label AS qlabel, count(*) AS c FROM e GROUP BY label),
ideal AS (SELECT qid, q.qlabel, cum_u AS idcg_u
          FROM q JOIN labcnt USING (qlabel)
          JOIN disc ON disc.rank = least(c - 1, {k})
          WHERE least(c - 1, {k}) >= 1),
per_q AS (SELECT qlabel,
                 coalesce((2 * 1000000 * d.dcg_u + i.idcg_u)
                          // (2 * i.idcg_u), 0)::BIGINT AS ndcg_u
          FROM ideal i LEFT JOIN dcg d USING (qid))
SELECT qlabel AS label, count(*)::BIGINT AS n_queries,
       ((sum(ndcg_u)::BIGINT::DOUBLE / 1000000.0) / count(*)::DOUBLE) AS mean_ndcg
FROM per_q GROUP BY qlabel ORDER BY qlabel
""".strip()


# --------------------------------------------------------------------------
# ColBERT-style late interaction (MaxSim): multi-vector documents scored
# token-by-token (Khattab & Zaharia, SIGIR 2020). The reference scores one
# vector per chunk against one query vector (indexes.py:108-123); late
# interaction is the multi-vector upgrade every modern retrieval stack
# offers: the query arrives as several token vectors and a document's
# score is the SUM over query tokens of the MAX similarity to any of the
# document's member vectors. Here the multi-vector "document" is the label
# group (the corpus's natural member structure) and the query tokens are
# the first LI_NUM_QTOKENS vectors.
#
# Determinism: each per-(token, doc) max is taken over micro-unit-rounded
# similarities (max of identical longs in both engines), and the per-doc
# sum adds LI_NUM_QTOKENS exact longs -- the money-sum discipline, so the
# final score is one IEEE division. Shape at 100 TB: one broadcast of the
# Q token vectors onto the member scan, two keyed aggregations (members ->
# per-token max -> per-doc sum); nothing but (doc, token, long) rows ever
# shuffle, and both aggregations partial-aggregate map-side.
# --------------------------------------------------------------------------

LI_NUM_QTOKENS = 4
LI_K = 10


def late_interaction_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = LI_K,
    num_qtokens: int = LI_NUM_QTOKENS,
) -> DataFrame:
    """(label, score): top-``k`` multi-vector documents by MaxSim."""
    from ..functions.vector import cosine_distance

    emb = load_table(spark, sf_dir, EMB)
    q = emb.filter(F.col("vec_id") < num_qtokens).select(
        F.col("vec_id").alias("qtoken"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    sims = (
        emb.select("label", F.col("embedding").cast("array<double>").alias("ee"))
        .crossJoin(F.broadcast(q))
        .select(
            "label",
            "qtoken",
            F.round(
                (F.lit(1.0) - cosine_distance("ee", "qv"))
                * F.lit(1_000_000.0),
                0,
            )
            .cast("long")
            .alias("sm"),
        )
    )
    per_tok = sims.groupBy("label", "qtoken").agg(F.max("sm").alias("mx"))
    return (
        per_tok.groupBy("label")
        .agg(F.sum("mx").alias("s_micros"))
        .select(
            "label",
            (F.col("s_micros").cast("double") / F.lit(1_000_000.0)).alias("score"),
        )
        .orderBy(F.desc("score"), "label")
        .limit(k)
    )


def late_interaction_topk_oracle(
    k: int = LI_K, num_qtokens: int = LI_NUM_QTOKENS
) -> str:
    d = oracle_distance_sql("cosine", "e.ee", "q.qv", round_to=None)
    return f"""
WITH q AS (SELECT vec_id AS qtoken, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < {num_qtokens}),
e AS (SELECT label, embedding::DOUBLE[] AS ee FROM embeddings),
sims AS (
  SELECT e.label, q.qtoken,
         round((1.0 - ({d})) * 1000000.0, 0)::BIGINT AS sm
  FROM e, q),
mx AS (SELECT label, qtoken, max(sm) AS mx FROM sims GROUP BY label, qtoken),
s AS (SELECT label, sum(mx)::BIGINT AS s_micros FROM mx GROUP BY label)
SELECT label, s_micros::DOUBLE / 1000000.0 AS score
FROM s
ORDER BY score DESC, label
LIMIT {k}
""".strip()


# --------------------------------------------------------------------------
# Keyset pagination over the distance order (search_after): page N is
# "everything strictly after the (distance, vec_id) cursor", the API every
# vector store exposes for deep result paging. OFFSET re-ranks k+offset
# rows per page and its cost grows with depth; the cursor filter composes
# with the scan, so every page is the same bounded TakeOrdered. The cursor
# here is computed inside the plan (page 1's lexicographic max as a 1-row
# aggregate of a struct -- no driver round trip, no literal data values in
# the oracle), and the 6-dp-rounded distance makes the tuple comparison
# exact in both engines.
# --------------------------------------------------------------------------


def knn_search_after(
    spark: SparkSession,
    sf_dir: str,
    metric: str = "cosine",
    k: int = 10,
    query_vec_id: int = 0,
) -> DataFrame:
    """(vec_id, distance): PAGE 2 of the distance-ordered scan -- the k
    rows strictly after page 1's last (distance, vec_id) cursor."""
    emb = load_table(spark, sf_dir, EMB)
    scored = (
        emb.crossJoin(F.broadcast(query_vector_df(spark, sf_dir, query_vec_id)))
        .select(
            "vec_id",
            distance_expr(metric, "embedding", "q").alias("distance"),
        )
    )
    cursor = (
        scored.orderBy("distance", "vec_id")
        .limit(k)
        .agg(F.max(F.struct("distance", "vec_id")).alias("c"))
        .select(F.col("c.distance").alias("cd"), F.col("c.vec_id").alias("cid"))
    )
    return (
        scored.crossJoin(F.broadcast(cursor))
        .filter(
            (F.col("distance") > F.col("cd"))
            | ((F.col("distance") == F.col("cd")) & (F.col("vec_id") > F.col("cid")))
        )
        .select("vec_id", "distance")
        .orderBy("distance", "vec_id")
        .limit(k)
    )


def knn_search_after_oracle(
    metric: str = "cosine", k: int = 10, query_vec_id: int = 0
) -> str:
    d = oracle_distance_sql(metric, "e.ee", "q.qe")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ee FROM embeddings),
q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = {query_vec_id}),
scored AS (SELECT e.vec_id, {d} AS distance FROM e, q),
p1 AS (SELECT * FROM scored ORDER BY distance, vec_id LIMIT {k}),
cur AS (SELECT distance AS cd, vec_id AS cid FROM p1
        ORDER BY distance DESC, vec_id DESC LIMIT 1)
SELECT s.vec_id AS vec_id, s.distance AS distance
FROM scored s, cur
WHERE s.distance > cur.cd OR (s.distance = cur.cd AND s.vec_id > cur.cid)
ORDER BY distance, vec_id
LIMIT {k}
""".strip()


# --- recommend API (positive/negative examples) ------------------------------

# Default example sets for the registry entry: two positives sharing a label
# neighborhood and one negative. Bounded literals -- the recommend API takes
# explicit example ids, exactly like the reference's search request takes one
# query vector (vector_db/schemas.py:57-60); this extends that surface the way
# production vector stores do (multi-example recommend with negatives).
RECO_POS = [3, 11]
RECO_NEG = [7]


def _example_vectors(
    spark: SparkSession, sf_dir: str, vec_ids: list[int]
) -> dict[int, list[float]]:
    """Bounded driver-side lookup of the example embeddings (len(vec_ids)
    rows; same bounded-collect discipline as ``_query_matrix``)."""
    rows = (
        load_table(spark, sf_dir, EMB)
        .filter(F.col("vec_id").isin([int(v) for v in vec_ids]))
        .select("vec_id", "embedding")
        .collect()
    )
    got = {int(r["vec_id"]): [float(x) for x in r["embedding"]] for r in rows}
    missing = [v for v in vec_ids if int(v) not in got]
    if missing:
        raise ValueError(f"recommend example vec_ids not found: {missing}")
    return got


def knn_recommend(
    spark: SparkSession,
    sf_dir: str,
    metric: str = "cosine",
    k: int = 10,
    positives: list[int] | None = None,
    negatives: list[int] | None = None,
    label_filter: int | None = None,
) -> DataFrame:
    """(vec_id, reco_distance): best-score recommend over ``embeddings``.

    Multi-example search with negative feedback (the recommend endpoint of
    production vector stores, built on the reference's single-vector search
    semantics, vector_db/services.py:164-181):

      d_pos(v) = min over positive examples p of distance(v, p)
      d_neg(v) = min over negative examples n of distance(v, n)
      reco_distance(v) = d_pos(v) - d_neg(v)   (ascending = best first)

    so a candidate ranks well when it is close to SOME positive and far from
    EVERY negative. With no negatives the score degenerates to d_pos (flat
    multi-query k-NN). Example ids themselves are excluded from candidates.

    Determinism contract: each per-example distance is the usual round-6dp
    normalized double (functions/vector.py); ``min``/``least`` is order-free
    and the single subtraction is one correctly-rounded IEEE op, so scores are
    bit-identical cross-engine. A candidate whose d_pos is +inf (zero-norm
    cosine guard) scores +inf -- inf-minus-inf NaNs cannot occur. Ties break
    on vec_id.

    Scale: the example set is bounded request state, pivoted into per-example
    literal columns -- the candidate scan computes every distance row-wise
    with ZERO shuffles and the top-k compiles to TakeOrderedAndProject, the
    same zero-exchange shape as flat_knn. No groupBy over the corpus.
    """
    if k <= 0:
        raise ValueError("k must be > 0")
    pos = list(RECO_POS if positives is None else positives)
    neg = list(RECO_NEG if negatives is None else negatives)
    if not pos:
        raise ValueError("recommend needs at least one positive example")
    vecs = _example_vectors(spark, sf_dir, pos + neg)

    def least_of(cols):
        return cols[0] if len(cols) == 1 else F.least(*cols)

    emb = load_table(spark, sf_dir, EMB).filter(
        ~F.col("vec_id").isin([int(v) for v in pos + neg])
    )
    if label_filter is not None:
        # F1/F2 discipline: the metadata filter lands on the scan BEFORE
        # any distance work (and composes with the example exclusion)
        emb = emb.filter(F.col("label") == label_filter)
    d_pos = least_of(
        [distance_expr(metric, "embedding", vecs[int(p)]) for p in pos]
    )
    inf = F.lit(float("inf"))
    if neg:
        d_neg = least_of(
            [distance_expr(metric, "embedding", vecs[int(n)]) for n in neg]
        )
        score = F.when(d_pos == inf, inf).otherwise(d_pos - d_neg)
    else:
        score = d_pos
    return (
        emb.select("vec_id", (score + F.lit(0.0)).alias("reco_distance"))
        .orderBy("reco_distance", "vec_id")
        .limit(k)
    )


def knn_recommend_oracle(
    metric: str = "cosine",
    k: int = 10,
    positives: list[int] | None = None,
    negatives: list[int] | None = None,
    label_filter: int | None = None,
) -> str:
    pos = list(RECO_POS if positives is None else positives)
    neg = list(RECO_NEG if negatives is None else negatives)
    excl = ", ".join(str(int(v)) for v in pos + neg)
    lf = f" AND label = {int(label_filter)}" if label_filter is not None else ""

    def vec_cte(name: str, vid: int) -> str:
        return (
            f"{name} AS (SELECT embedding::DOUBLE[] AS v "
            f"FROM embeddings WHERE vec_id = {int(vid)})"
        )

    ctes = ["e AS (SELECT vec_id, embedding::DOUBLE[] AS ee FROM embeddings "
            f"WHERE vec_id NOT IN ({excl}){lf})"]
    srcs = ["e"]
    pterms, nterms = [], []
    for i, p in enumerate(pos):
        ctes.append(vec_cte(f"p{i}", p))
        srcs.append(f"p{i}")
        pterms.append(oracle_distance_sql(metric, "e.ee", f"p{i}.v"))
    for i, n in enumerate(neg):
        ctes.append(vec_cte(f"n{i}", n))
        srcs.append(f"n{i}")
        nterms.append(oracle_distance_sql(metric, "e.ee", f"n{i}.v"))
    d_pos = pterms[0] if len(pterms) == 1 else "least(" + ", ".join(pterms) + ")"
    if nterms:
        d_neg = nterms[0] if len(nterms) == 1 else "least(" + ", ".join(nterms) + ")"
        score = (
            f"CASE WHEN {d_pos} = 'infinity'::DOUBLE THEN 'infinity'::DOUBLE "
            f"ELSE {d_pos} - {d_neg} END"
        )
    else:
        score = d_pos
    cte_sql = ",\n".join(ctes)
    return f"""
WITH {cte_sql}
SELECT e.vec_id AS vec_id, ({score}) + 0.0 AS reco_distance
FROM {", ".join(srcs)}
ORDER BY reco_distance, vec_id
LIMIT {k}
""".strip()


# --- group search: top groups by best hit, top hits per group ----------------


def knn_group_topk(
    spark: SparkSession,
    sf_dir: str,
    metric: str = "cosine",
    k_groups: int = 4,
    per_group: int = 3,
    query_vec_id: int = 0,
) -> DataFrame:
    """(group_rank, label, hit_rank, vec_id, distance): group-by search.

    The grouped variant of the reference's single-list search
    (vector_db/services.py:164-181): groups (= ``label``, the metadata field)
    are ranked by their BEST hit's (distance, vec_id), the top ``k_groups``
    groups are kept, and each contributes its ``per_group`` nearest hits --
    the "search with group_by" endpoint of production vector stores, which
    diversifies results without re-scoring (one best hit cannot flood the
    page with its whole cluster).

    Scale: distances are row-wise over the scan (zero shuffles), the
    per-group window shuffles by ``label`` exactly like knn_per_label -- the
    only corpus-sized exchange; the group-ranking window then runs over ONE
    bounded row per label (#labels rows, metadata cardinality, never corpus
    -sized), and the final group_rank attach is a broadcast join.
    """
    if k_groups <= 0 or per_group <= 0:
        raise ValueError("k_groups and per_group must be > 0")
    emb = load_table(spark, sf_dir, EMB)
    scored = emb.crossJoin(
        F.broadcast(query_vector_df(spark, sf_dir, query_vec_id))
    ).select(
        "label",
        "vec_id",
        distance_expr(metric, "embedding", "q").alias("distance"),
    )
    w_hits = Window.partitionBy("label").orderBy("distance", "vec_id")
    hits = (
        scored.withColumn("hit_rank", F.row_number().over(w_hits).cast("long"))
        .filter(F.col("hit_rank") <= per_group)
    )
    # one row per label survives hit_rank == 1 -- the group-ranking window is
    # bounded by metadata cardinality, not corpus size
    best = hits.filter(F.col("hit_rank") == 1).select(
        "label",
        F.col("distance").alias("best_distance"),
        F.col("vec_id").alias("best_vec_id"),
    )
    w_groups = Window.orderBy("best_distance", "best_vec_id")
    top_groups = (
        best.withColumn("group_rank", F.row_number().over(w_groups).cast("long"))
        .filter(F.col("group_rank") <= k_groups)
        .select("label", "group_rank")
    )
    return (
        hits.join(F.broadcast(top_groups), "label")
        .select("group_rank", "label", "hit_rank", "vec_id", "distance")
        .orderBy("group_rank", "hit_rank")
    )


def knn_group_topk_oracle(
    metric: str = "cosine",
    k_groups: int = 4,
    per_group: int = 3,
    query_vec_id: int = 0,
) -> str:
    d = oracle_distance_sql(metric, "e.v", "q.qv")
    return f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {query_vec_id}),
scored AS (SELECT e.label, e.vec_id, {d} AS distance FROM e, q),
hits AS (SELECT label, vec_id, distance,
                row_number() OVER (PARTITION BY label
                                   ORDER BY distance, vec_id) AS hit_rank
         FROM scored),
best AS (SELECT label, distance AS best_distance, vec_id AS best_vec_id
         FROM hits WHERE hit_rank = 1),
topg AS (SELECT label,
                row_number() OVER (ORDER BY best_distance, best_vec_id)
                    AS group_rank
         FROM best)
SELECT g.group_rank, h.label, h.hit_rank, h.vec_id, h.distance
FROM hits h JOIN topg g ON h.label = g.label
WHERE g.group_rank <= {k_groups} AND h.hit_rank <= {per_group}
ORDER BY g.group_rank, h.hit_rank
""".strip()


# --- pairwise distance matrix over a bounded id subset -----------------------


def knn_distance_matrix(
    spark: SparkSession,
    sf_dir: str,
    metric: str = "cosine",
    id_mod: int = 20,
) -> DataFrame:
    """(a_id, b_id, distance): all unordered pairs among the bounded subset
    ``vec_id % id_mod == 0`` -- the distance-matrix endpoint (pairwise
    similarity of a SAMPLED point set, the input to offline clustering /
    visualization / duplicate triage that production vector stores expose
    with an explicit sample cap).

    Scale: quadratic IN THE SAMPLE by contract (the endpoint caps the sample;
    ``id_mod`` is that cap's inverse). One side is a bounded broadcast, the
    other a pushed-down filtered scan, so the pair build is a broadcast
    nested loop over corpus/id_mod rows -- no shuffle, no corpus x corpus
    blow-up; the full-corpus all-pairs need is served by the banded LSH
    family (operators/dedup.py), not this endpoint.
    """
    emb = load_table(spark, sf_dir, EMB)
    sub = emb.filter(F.col("vec_id") % id_mod == 0)
    right = sub.select(
        F.col("vec_id").alias("b_id"), F.col("embedding").alias("b_emb")
    )
    return (
        sub.select(F.col("vec_id").alias("a_id"), "embedding")
        .join(F.broadcast(right), F.col("a_id") < F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            distance_expr(metric, "embedding", "b_emb").alias(
                "distance"
            ),
        )
        .orderBy("a_id", "b_id")
    )


def knn_distance_matrix_oracle(metric: str = "cosine", id_mod: int = 20) -> str:
    d = oracle_distance_sql(metric, "a.v", "b.v")
    return f"""
WITH s AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE vec_id % {id_mod} = 0)
SELECT a.vec_id AS a_id, b.vec_id AS b_id, {d} AS distance
FROM s a JOIN s b ON a.vec_id < b.vec_id
ORDER BY a_id, b_id
""".strip()


def knn_recommend_centroid(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    positives: list[int] | None = None,
    negatives: list[int] | None = None,
) -> DataFrame:
    """(vec_id, distance): average-vector recommend (cosine only).

    The second classic recommend strategy next to best-score
    (:func:`knn_recommend`): search with the single query vector
    q = mean(positives) - mean(negatives). Because cosine distance is
    invariant to positive scaling of the query, q is computed WITHOUT any
    division as the exact integer combination

      q_micro[d] = |N| * sum_p round(p[d] * 1e6)  -  |P| * sum_n round(n[d] * 1e6)

    (plain sums when N is empty) -- order-free BIGINT arithmetic, identical
    in both engines, no mean/float anywhere before the one distance
    expression. Example ids are excluded from candidates; ties break on
    vec_id.

    Scale: the q build aggregates |examples| x dim rows (bounded request
    state) into one broadcast array; the candidate scan is then exactly
    flat_knn's zero-shuffle TakeOrdered shape.
    """
    if k <= 0:
        raise ValueError("k must be > 0")
    pos = list(RECO_POS if positives is None else positives)
    neg = list(RECO_NEG if negatives is None else negatives)
    if not pos:
        raise ValueError("recommend needs at least one positive example")
    emb = load_table(spark, sf_dir, EMB)
    ids = [int(v) for v in pos + neg]
    w_pos = len(neg) if neg else 1
    w_neg = len(pos)
    weight = (
        F.when(F.col("vec_id").isin([int(v) for v in pos]), F.lit(w_pos))
        .otherwise(F.lit(-w_neg))
        .cast("long")
    )
    exm = (
        emb.filter(F.col("vec_id").isin(ids))
        .select("vec_id", F.posexplode(F.col("embedding").cast("array<double>")))
        .withColumnRenamed("pos", "dim")
        .withColumnRenamed("col", "val")
    )
    qm = (
        exm.select("dim", (weight * F.round(F.col("val") * 1e6)).alias("wm"))
        .groupBy("dim")
        .agg(F.sum("wm").cast("long").alias("qm"))
    )
    q = qm.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "qm"))),
            lambda s: s["qm"].cast("double"),
        ).alias("q")
    )
    return (
        emb.filter(~F.col("vec_id").isin(ids))
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            distance_expr("cosine", "embedding", "q").alias("distance"),
        )
        .orderBy("distance", "vec_id")
        .limit(k)
    )


def knn_recommend_centroid_oracle(
    k: int = 10,
    positives: list[int] | None = None,
    negatives: list[int] | None = None,
    dim: int = 64,
) -> str:
    pos = list(RECO_POS if positives is None else positives)
    neg = list(RECO_NEG if negatives is None else negatives)
    excl = ", ".join(str(int(v)) for v in pos + neg)
    plist = ", ".join(str(int(v)) for v in pos)
    w_pos = len(neg) if neg else 1
    w_neg = len(pos)
    d = oracle_distance_sql("cosine", "e.ee", "q.qe")
    return f"""
WITH exm AS (
  SELECT vec_id, t.i AS dim, (embedding::DOUBLE[])[t.i + 1] AS val
  FROM embeddings, range({dim}) t(i)
  WHERE vec_id IN ({excl})),
qm AS (
  SELECT dim,
         sum(CASE WHEN vec_id IN ({plist}) THEN {w_pos} ELSE -{w_neg} END
             * round(val * 1e6))::BIGINT AS qm
  FROM exm GROUP BY dim),
q AS (SELECT list(qm::DOUBLE ORDER BY dim) AS qe FROM qm),
e AS (SELECT vec_id, embedding::DOUBLE[] AS ee FROM embeddings
      WHERE vec_id NOT IN ({excl}))
SELECT e.vec_id AS vec_id, {d} AS distance
FROM e, q
ORDER BY distance, vec_id
LIMIT {k}
""".strip()


# --- discovery search: target + context pairs --------------------------------

# Default request for the registry entry: steer toward vec 0 inside the
# context "more like 3 than 7, more like 11 than 4".
DISCOVERY_TARGET = 0
DISCOVERY_PAIRS = [(3, 7), (11, 4)]


def knn_discovery(
    spark: SparkSession,
    sf_dir: str,
    metric: str = "cosine",
    k: int = 10,
    target: int = DISCOVERY_TARGET,
    pairs: list[tuple[int, int]] | None = None,
) -> DataFrame:
    """(vec_id, context_score, target_distance): discovery search.

    The constrained-exploration endpoint of production vector stores: rank
    by closeness to a TARGET, but only as a tie-break inside a context cone
    defined by (positive, negative) example pairs. Each pair votes

      pair i votes for v  <=>  distance(v, pos_i) < distance(v, neg_i)

    and candidates order by (context_score DESC, target_distance ASC,
    vec_id) with context_score = the INTEGER vote count -- no float blend
    of votes and distances, so the whole ranking is portable by
    construction. The target and every pair member are excluded from
    candidates.

    Scale: same zero-shuffle shape as :func:`knn_recommend` -- the bounded
    request pivots into literal columns, every vote and the target distance
    are row-wise over the scan, top-k is TakeOrderedAndProject.
    """
    if k <= 0:
        raise ValueError("k must be > 0")
    prs = [(int(a), int(b)) for a, b in (DISCOVERY_PAIRS if pairs is None else pairs)]
    if not prs:
        raise ValueError("discovery needs at least one context pair")
    ids = [int(target)] + [v for p in prs for v in p]
    vecs = _example_vectors(spark, sf_dir, ids)

    emb = load_table(spark, sf_dir, EMB).filter(~F.col("vec_id").isin(ids))
    votes = [
        F.when(
            distance_expr(metric, "embedding", vecs[int(a)])
            < distance_expr(metric, "embedding", vecs[int(b)]),
            1,
        ).otherwise(0)
        for a, b in prs
    ]
    score = votes[0]
    for v in votes[1:]:
        score = score + v
    return (
        emb.select(
            "vec_id",
            score.cast("long").alias("context_score"),
            distance_expr(metric, "embedding", vecs[int(target)]).alias(
                "target_distance"
            ),
        )
        .orderBy(F.col("context_score").desc(), "target_distance", "vec_id")
        .limit(k)
    )


def knn_discovery_oracle(
    metric: str = "cosine",
    k: int = 10,
    target: int = DISCOVERY_TARGET,
    pairs: list[tuple[int, int]] | None = None,
) -> str:
    prs = [(int(a), int(b)) for a, b in (DISCOVERY_PAIRS if pairs is None else pairs)]
    ids = [int(target)] + [v for p in prs for v in p]
    excl = ", ".join(str(v) for v in ids)

    def vec_cte(name: str, vid: int) -> str:
        return (
            f"{name} AS (SELECT embedding::DOUBLE[] AS v "
            f"FROM embeddings WHERE vec_id = {int(vid)})"
        )

    ctes = ["e AS (SELECT vec_id, embedding::DOUBLE[] AS ee FROM embeddings "
            f"WHERE vec_id NOT IN ({excl}))"]
    srcs = ["e"]
    ctes.append(vec_cte("tg", int(target)))
    srcs.append("tg")
    vote_terms = []
    for i, (a, b) in enumerate(prs):
        ctes.append(vec_cte(f"pa{i}", a))
        ctes.append(vec_cte(f"pb{i}", b))
        srcs += [f"pa{i}", f"pb{i}"]
        da = oracle_distance_sql(metric, "e.ee", f"pa{i}.v")
        db = oracle_distance_sql(metric, "e.ee", f"pb{i}.v")
        vote_terms.append(f"CASE WHEN {da} < {db} THEN 1 ELSE 0 END")
    score = " + ".join(vote_terms)
    dt = oracle_distance_sql(metric, "e.ee", "tg.v")
    cte_sql = ",\n".join(ctes)
    return f"""
WITH {cte_sql}
SELECT e.vec_id AS vec_id, ({score})::BIGINT AS context_score,
       {dt} AS target_distance
FROM {", ".join(srcs)}
ORDER BY context_score DESC, target_distance, vec_id
LIMIT {k}
""".strip()
