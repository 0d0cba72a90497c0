"""Product quantization (PQ) -- the memory-side half of the 100 TB ANN story.

The reference's indexes (flat, LSH sign-bit: vector_db/indexes.py:61-234)
keep full float vectors in memory; at 100 TB that is the cost driver. PQ
compresses each d-dim vector to M one-byte codes (here M=8 subspaces x
KS=16 codes over 64-dim embeddings = 8 bytes/vector vs 256), and answers
queries with an asymmetric distance computation (ADC): a per-query
M x KS lookup table of exact subspace distances, summed over the stored
codes. Jegou et al., "Product Quantization for Nearest Neighbor Search"
(TPAMI 2011) is the public reference.

Spark shape (all sizes are tiny EXCEPT the vector table):
  - codebooks: trained driver-side with numpy Lloyd iterations on a bounded
    sample (deterministic init = first KS sample subvectors); M*KS*dsub
    floats -- a literal, never a shuffle.
  - encode: one Arrow-batched pandas_udf pass over the vector table
    (argmin over KS centroids per subspace) -> codes array<int>. This is
    the one full-data pass, embarrassingly parallel, no shuffle.
  - ADC search: the query LUT is a literal array-of-arrays; distance =
    aggregate(zip_with(codes, LUT, (c, row) -> row[c+1])) -- pure JVM
    expression inside whole-stage codegen over 8-byte codes, so the scan
    reads ~3% of the bytes a flat scan reads.
  - re-rank: exact distances for the ADC shortlist only (semi-join back to
    the full vectors), giving near-flat recall at PQ scan cost.

Rows-only correctness check (trained float codebooks are not portably
reproducible in SQL); recall is quantified against exact k-NN in
tests/test_pq.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import _memo
from pyspark.sql.types import ArrayType, IntegerType

from ..functions.vector import distance_expr
from ..sources.tables import arrow_local_df, load_table

M_SUBSPACES = 8
KS_CODES = 16
TRAIN_SAMPLE = 2048
LLOYD_ITERS = 5


def _train_books_np(x: np.ndarray, m: int, ks: int, iters: int) -> np.ndarray:
    """(m, ks, dsub) float32 codebooks by per-subspace Lloyd on the given
    sample matrix. Init = first ks subvectors; argmin ties break on the
    lowest code (numpy first-occurrence)."""
    n, d = x.shape
    assert d % m == 0, f"dim {d} not divisible by {m} subspaces"
    dsub = d // m
    books = np.empty((m, ks, dsub), dtype=np.float32)
    for mi in range(m):
        sub = x[:, mi * dsub : (mi + 1) * dsub].astype(np.float64)
        cents = sub[:ks].copy()
        for _ in range(iters):
            # (n, ks) squared distances; argmin ties break on lowest code
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(ks):
                mask = assign == c
                if mask.any():
                    cents[c] = sub[mask].mean(axis=0)
        books[mi] = cents.astype(np.float32)
    return books


@_memo.per_app
def _sample_matrix(spark: SparkSession, sf_dir: str) -> np.ndarray:
    """Bounded, deterministic training sample: ``vec_id < TRAIN_SAMPLE``
    keeps the collect fixed-size regardless of table size (the 100 TB story
    trains on a sample, never the table). Memoized per application -- one
    collect, every PQ/IVFPQ build shares it."""
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < TRAIN_SAMPLE)
        .orderBy("vec_id")
        .select("embedding")
    )
    return np.array([r["embedding"] for r in emb.collect()], dtype=np.float32)


@_memo.per_app
def train_codebooks(
    spark: SparkSession,
    sf_dir: str,
    m: int = M_SUBSPACES,
    ks: int = KS_CODES,
    iters: int = LLOYD_ITERS,
) -> np.ndarray:
    """(m, ks, dsub) float32 codebooks from the bounded sample. Memoized
    in-process AND persisted as a content-keyed parquet artifact (same
    lifecycle as the trained IVF centroids): a fresh process loads the
    m*ks-row table instead of re-training."""
    books = _load_persisted_codebooks(spark, sf_dir, m, ks, iters)
    if books is None:
        books = _train_books_np(_sample_matrix(spark, sf_dir), m, ks, iters)
        _save_persisted_codebooks(spark, sf_dir, m, ks, iters, books)
    return books


def pq_artifact_path(sf_dir: str, m: int, ks: int, iters: int) -> str:
    import hashlib
    import os

    from ..sources.artifacts import artifact_root, source_ident

    src = os.path.join(sf_dir, "embeddings.parquet")
    # footer fingerprint + ALGO_VERSION via source_ident: regenerated
    # sources and changed kernels never serve a stale artifact
    tag = hashlib.md5(
        f"{source_ident(src)}:pq:{m}:{ks}:{iters}:{TRAIN_SAMPLE}".encode()
    ).hexdigest()[:12]
    return os.path.join(artifact_root(), f"pq-trained-{tag}")


def _load_persisted_codebooks(
    spark: SparkSession, sf_dir: str, m: int, ks: int, iters: int
) -> np.ndarray | None:
    import os

    from ..sources.artifacts import discard_corrupt_artifact, is_read_corruption

    path = os.path.join(pq_artifact_path(sf_dir, m, ks, iters), "codebooks")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        return None
    try:
        rows = spark.read.parquet(path).orderBy("mi", "code").collect()
    except Exception as exc:
        # Discard only on provable read-path corruption, never on a
        # transient failure; rename-aside avoids racing concurrent writers
        # (twin of ivf._load_persisted_centroids).
        if is_read_corruption(exc):
            discard_corrupt_artifact(path)
        return None
    if len(rows) != m * ks:
        # invalid artifact: discard so the save path rewrites it instead of
        # skipping on _SUCCESS and retraining in every future process
        discard_corrupt_artifact(path)
        return None
    dsub = len(rows[0]["centroid"])
    books = np.empty((m, ks, dsub), dtype=np.float32)
    for r in rows:
        books[r["mi"], r["code"]] = np.asarray(r["centroid"], dtype=np.float32)
    return books


def _save_persisted_codebooks(
    spark: SparkSession, sf_dir: str, m: int, ks: int, iters: int, books: np.ndarray
) -> None:
    import os
    import shutil

    root = pq_artifact_path(sf_dir, m, ks, iters)
    final = os.path.join(root, "codebooks")
    if os.path.exists(os.path.join(final, "_SUCCESS")):
        return
    os.makedirs(root, exist_ok=True)
    rows = [
        (mi, c, [float(x) for x in books[mi, c]])
        for mi in range(books.shape[0])
        for c in range(books.shape[1])
    ]
    tmp = final + f".tmp-{os.getpid()}"
    arrow_local_df(
        spark,
        {"mi": [r[0] for r in rows], "code": [r[1] for r in rows],
         "centroid": [r[2] for r in rows]},
        "mi int, code int, centroid array<float>",
    ).coalesce(1).write.mode("overwrite").parquet(tmp)
    try:
        os.rename(tmp, final)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)  # concurrent writer won


def save_pq_index(
    spark: SparkSession,
    sf_dir: str,
    m: int = M_SUBSPACES,
    ks: int = KS_CODES,
    iters: int = LLOYD_ITERS,
) -> str:
    """Persist the (vec_id, codes) PQ index table next to its codebooks;
    returns the artifact root. The codes table is the 8-bytes-per-vector
    structure ADC scans -- at scale THIS is what lives in object storage,
    not the raw vectors."""
    import os
    import shutil

    root = pq_artifact_path(sf_dir, m, ks, iters)
    final = os.path.join(root, "codes")
    if not os.path.exists(os.path.join(final, "_SUCCESS")):
        tmp = final + f".tmp-{os.getpid()}"
        _coded_table(spark, sf_dir).write.mode("overwrite").parquet(tmp)
        try:
            os.rename(tmp, final)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
    return root


def pq_persisted_knn(
    spark: SparkSession,
    sf_dir: str,
    metric: str = "cosine",
    k: int = 10,
    query_vec_id: int = 0,
    oversample: int = 5,
) -> DataFrame:
    """ADC shortlist + exact re-rank served from the persisted artifact
    (codebooks + codes table parquet). Identical results to :func:`pq_knn`
    -- the artifact IS the trained state (float32 round trip, exact);
    equality asserted in tests, rows-only under the driver gate like its
    in-process twin."""
    import os

    root = save_pq_index(spark, sf_dir)
    books = train_codebooks(spark, sf_dir)
    coded = spark.read.parquet(os.path.join(root, "codes"))
    emb = load_table(spark, sf_dir, "embeddings")
    return _adc_rerank(emb, coded, books, metric, k, query_vec_id, oversample)


def encode(df: DataFrame, books: np.ndarray, col: str = "embedding") -> DataFrame:
    """Add a ``codes`` column: per subspace, the nearest codebook entry.

    One Arrow-batched pass; the codebook rides in the UDF closure (tiny).
    """
    m, ks, dsub = books.shape
    b64 = books.astype(np.float64)

    @F.pandas_udf(ArrayType(IntegerType()))
    def _codes(vals: pd.Series) -> pd.Series:
        x = np.array(vals.tolist(), dtype=np.float64)
        out = np.empty((x.shape[0], m), dtype=np.int32)
        for mi in range(m):
            sub = x[:, mi * dsub : (mi + 1) * dsub]
            d2 = ((sub[:, None, :] - b64[mi][None, :, :]) ** 2).sum(axis=2)
            out[:, mi] = d2.argmin(axis=1)
        return pd.Series(list(out))

    return df.withColumn("codes", _codes(F.col(col)))


@_memo.per_app
def _coded_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cached (vec_id, codes) PQ index table -- encode once per
    application (one Arrow pass), persisted at scale."""
    books = train_codebooks(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        encode(emb.select("vec_id", "embedding"), books)
        .select("vec_id", "codes")
        .cache()
    )


def _adc_lut(books: np.ndarray, qv: np.ndarray) -> list[list[float]]:
    """M x KS table of exact subspace squared distances for one query."""
    m, ks, dsub = books.shape
    lut = []
    for mi in range(m):
        qsub = qv[mi * dsub : (mi + 1) * dsub].astype(np.float64)
        row = ((books[mi].astype(np.float64) - qsub[None, :]) ** 2).sum(axis=1)
        lut.append([float(v) for v in row])
    return lut


def pq_knn(
    spark: SparkSession,
    sf_dir: str,
    metric: str = "cosine",
    k: int = 10,
    query_vec_id: int = 0,
    oversample: int = 5,
) -> DataFrame:
    """ADC shortlist (k*oversample by PQ-approximate euclidean) -> exact
    re-rank by ``metric``. The shortlist scan touches only the 8-byte codes
    column; full vectors are read just for the shortlist semi-join."""
    books = train_codebooks(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    coded = _coded_table(spark, sf_dir)
    return _adc_rerank(emb, coded, books, metric, k, query_vec_id, oversample)


def _adc_rerank(
    emb: DataFrame,
    coded: DataFrame,
    books: np.ndarray,
    metric: str,
    k: int,
    query_vec_id: int,
    oversample: int,
) -> DataFrame:
    """Shared ADC + re-rank tail: same plan whether the codes table is the
    in-process cache or the persisted artifact."""
    qv = np.array(
        emb.filter(F.col("vec_id") == query_vec_id).select("embedding").head()["embedding"],
        dtype=np.float32,
    )
    lut = F.array(*[F.array(*[F.lit(v) for v in row]) for row in _adc_lut(books, qv)])
    # distance ~ sum over subspaces of LUT[m][code_m]: zip codes with LUT rows
    adc = F.aggregate(
        F.zip_with(F.col("codes"), lut, lambda c, row: F.element_at(row, c + F.lit(1))),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    shortlist = (
        coded.select("vec_id", adc.alias("adc"))
        .orderBy("adc", "vec_id")
        .limit(k * oversample)
        .select("vec_id")
    )
    q = emb.filter(F.col("vec_id") == query_vec_id).select(F.col("embedding").alias("qv"))
    return (
        emb.join(F.broadcast(shortlist), "vec_id")
        .crossJoin(F.broadcast(q))
        .select("vec_id", distance_expr(metric, "embedding", "qv").alias("distance"))
        .orderBy("distance", "vec_id")
        .limit(k)
    )


@_memo.per_app
def _ivfpq_index(
    spark: SparkSession, sf_dir: str, n_cells: int
) -> tuple[np.ndarray, np.ndarray, DataFrame]:
    """(centroids, residual codebooks, cached (vec_id, cell, codes) index)
    -- the IVFADC build phase, memoized per application: at 100 TB all
    three are persisted artifacts (tiny numpy + a cell-partitioned table)
    built once and shared by every query."""
    from .ivf import train_centroids

    cents_list = train_centroids(spark, sf_dir, n_cells, iterations=2)
    cents = np.array(cents_list, dtype=np.float64)

    # residual codebooks from the bounded sample (numpy mirror of the
    # distributed assignment: argmin ties -> lowest cell in both)
    xs = _sample_matrix(spark, sf_dir).astype(np.float64)
    d2 = ((xs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    books = _train_books_np(
        (xs - cents[d2.argmin(axis=1)]).astype(np.float32),
        M_SUBSPACES,
        KS_CODES,
        LLOYD_ITERS,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cent_df = arrow_local_df(
        spark, {"cell": range(len(cents_list)), "cv": cents_list},
        "cell int, cv array<float>",
    )
    from .ivf import argmin_cell

    cd = distance_expr("euclidean", "embedding", "cv", round_to=None)
    assigned = argmin_cell(
        emb.crossJoin(F.broadcast(cent_df)).withColumn("cd", cd),
        "vec_id",
        ["embedding"],
        win_cols=["cv"],
    ).select(
        "vec_id",
        "cell",
        F.zip_with(
            F.col("embedding").cast("array<double>"),
            F.col("cv").cast("array<double>"),
            lambda a, b: a - b,
        ).alias("resid"),
    )
    index = encode(assigned, books, col="resid").select("vec_id", "cell", "codes").cache()
    return cents, books, index


def ivfpq_knn(
    spark: SparkSession,
    sf_dir: str,
    metric: str = "cosine",
    k: int = 10,
    query_vec_id: int = 0,
    n_cells: int = 16,
    nprobe: int = 4,
    oversample: int = 5,
) -> DataFrame:
    """IVF + PQ residual codes -- the composed FAISS-style IVFADC layout
    (Jegou et al. 2011, §IV): coarse cells prune the scan to nprobe/n_cells
    of the data, and within probed cells distances come from PQ codes of
    the RESIDUAL (vector - cell centroid), which quantizes a much tighter
    distribution than raw vectors. At 100 TB the index table is
    (vec_id, cell, 8-byte codes) partitioned by cell: the query reads only
    probed partitions and only code bytes; full vectors are touched just
    for the final shortlist re-rank.

    Plan shape: centroid assignment = broadcast-join + windowed argmin (no
    vector shuffle); residual = JVM zip_with; encode = one Arrow pass; the
    per-cell ADC lookup tables ride a tiny broadcast join keyed by cell;
    ADC itself is a codegen'd fold over the codes column.
    """
    cents, books, index = _ivfpq_index(spark, sf_dir, n_cells)
    emb = load_table(spark, sf_dir, "embeddings")

    qv = np.array(
        emb.filter(F.col("vec_id") == query_vec_id).select("embedding").head()["embedding"],
        dtype=np.float64,
    )
    probe = np.argsort(((cents - qv[None, :]) ** 2).sum(axis=1), kind="stable")[:nprobe]
    lut_rows = [
        (int(c), _adc_lut(books, (qv - cents[c]).astype(np.float32))) for c in probe
    ]
    lut_df = arrow_local_df(
        spark,
        {"cell": [r[0] for r in lut_rows], "lut": [r[1] for r in lut_rows]},
        "cell int, lut array<array<double>>",
    )
    adc = F.aggregate(
        F.zip_with(F.col("codes"), F.col("lut"), lambda c, row: F.element_at(row, c + F.lit(1))),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    shortlist = (
        index.join(F.broadcast(lut_df), "cell")
        .select("vec_id", adc.alias("adc"))
        .orderBy("adc", "vec_id")
        .limit(k * oversample)
        .select("vec_id")
    )
    q = emb.filter(F.col("vec_id") == query_vec_id).select(F.col("embedding").alias("qv"))
    return (
        emb.join(F.broadcast(shortlist), "vec_id")
        .crossJoin(F.broadcast(q))
        .select("vec_id", distance_expr(metric, "embedding", "qv").alias("distance"))
        .orderBy("distance", "vec_id")
        .limit(k)
    )


def pq_code_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression accounting: rows, raw vector bytes, PQ code bytes --
    the rows-only health query for the PQ surface."""
    books = train_codebooks(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    coded = encode(emb, books)
    return coded.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        (F.sum(F.size("embedding")) * 4).cast("long").alias("raw_bytes"),
        F.sum(F.size("codes")).cast("long").alias("code_bytes"),
    )


def pq_code_sizes_oracle() -> str:
    """The accounting IS oracle-checkable: every output is an integer
    independent of the learned centroid floats (codes per vector == the
    M_SUBSPACES layout constant, raw bytes == 4 x dims). Only the k-NN
    results over trained codebooks stay rows-only."""
    return f"""
SELECT count(*) AS n_vectors,
       (sum(len(embedding)) * 4)::BIGINT AS raw_bytes,
       (count(*) * {M_SUBSPACES})::BIGINT AS code_bytes
FROM embeddings
""".strip()


# --------------------------------------------------------------------------
# Recall VERDICT gates for the trained-codebook family (pattern:
# sq.sq8_recall / ivf.ivf_trained_recall): learned centroid floats are not
# portably SQL-reproducible, so the gate row carries the portable parts --
# k, the exact-top-k count (cross-checked against closed-form exact k-NN in
# the oracle), the floor, and the boolean that the trained path's measured
# recall clears it. Measured recall is 0.7-0.9 at both gate SFs, so the 0.5
# floor is a regression tripwire, not a tautology.
# --------------------------------------------------------------------------

RECALL_FLOOR = 0.5


def _recall_verdict(exact, approx, k: int):
    return (
        exact.agg(F.count(F.lit(1)).alias("n_exact"))
        .crossJoin(exact.join(approx, "vec_id").agg(F.count(F.lit(1)).alias("_m")))
        .select(
            F.lit(k).alias("k"),
            "n_exact",
            F.lit(RECALL_FLOOR).alias("recall_floor"),
            (
                F.col("_m").cast("double") / F.lit(float(k)) >= F.lit(RECALL_FLOOR)
            ).alias("recall_ok"),
        )
    )


def pq_recall(
    spark: SparkSession,
    sf_dir: str,
    metric: str = "cosine",
    k: int = 10,
    query_vec_id: int = 0,
) -> DataFrame:
    from .knn import flat_knn

    exact = flat_knn(spark, sf_dir, metric, k=k, query_vec_id=query_vec_id).select("vec_id")
    approx = pq_knn(spark, sf_dir, metric, k=k, query_vec_id=query_vec_id).select("vec_id")
    return _recall_verdict(exact, approx, k)


def ivfpq_recall(
    spark: SparkSession,
    sf_dir: str,
    metric: str = "cosine",
    k: int = 10,
    query_vec_id: int = 0,
) -> DataFrame:
    from .knn import flat_knn

    exact = flat_knn(spark, sf_dir, metric, k=k, query_vec_id=query_vec_id).select("vec_id")
    approx = ivfpq_knn(spark, sf_dir, metric, k=k, query_vec_id=query_vec_id).select("vec_id")
    return _recall_verdict(exact, approx, k)


def pq_persisted_equality(
    spark: SparkSession,
    sf_dir: str,
    metric: str = "cosine",
    k: int = 10,
    query_vec_id: int = 0,
) -> DataFrame:
    """Deterministic equality VERDICT between the in-process ADC+rerank
    probe and the same probe served from the persisted codebooks/codes
    artifact (ivf.ivf_persisted_equality twin; VERDICT r6 item 6). The
    float32 codebooks and the integer codes round-trip parquet bit-exactly,
    so both probes must emit identical (vec_id, distance) rows; the oracle
    asserts the counts and the boolean closed-form."""
    inproc = pq_knn(
        spark, sf_dir, metric, k=k, query_vec_id=query_vec_id
    ).select("vec_id", "distance")
    disk = pq_persisted_knn(
        spark, sf_dir, metric, k=k, query_vec_id=query_vec_id
    ).select("vec_id", "distance")
    return (
        inproc.agg(F.count(F.lit(1)).alias("n_inproc"))
        .crossJoin(disk.agg(F.count(F.lit(1)).alias("n_persisted")))
        .crossJoin(
            inproc.join(disk, ["vec_id", "distance"]).agg(
                F.count(F.lit(1)).alias("n_equal")
            )
        )
        .select(
            F.lit(k).alias("k"),
            "n_inproc",
            "n_persisted",
            (
                (F.col("n_equal") == F.col("n_inproc"))
                & (F.col("n_inproc") == F.col("n_persisted"))
            ).alias("all_equal"),
        )
    )


def trained_recall_oracle(metric: str = "cosine", k: int = 10, query_vec_id: int = 0) -> str:
    from .knn import flat_knn_oracle

    flat = flat_knn_oracle(metric, k=k, query_vec_id=query_vec_id)
    return f"""
WITH flat AS ({flat})
SELECT {k} AS k, count(*) AS n_exact, {RECALL_FLOOR} AS recall_floor,
       true AS recall_ok
FROM flat
""".strip()


# --------------------------------------------------------------------------
# Quantized-chain PQ training -- the round-8 IVF discipline
# (ivf._quantized_chain) applied to per-subspace Lloyd, so the LAST ANN
# family's training pipeline moves from rows-only records to the value-hash
# gate (VERDICT r8 item 1). The float trainer above stays the production
# path (recall-gated); this is its bit-identical verifiable twin: every
# iteration's codebooks are quantized to integer micro-units, making the
# whole training TRAJECTORY and the trained-probe results reproducible as a
# DuckDB CTE chain. Reference analog: the index save/load surface S10/S11
# (vector_db/indexes.py:262-321) -- trained state that must round-trip
# exactly.
# --------------------------------------------------------------------------

PQ_GATED_ITERS = 3
DIM = 64  # embeddings table dimension (TESTDATA.md), like ivf's range(1, 65)


def _pq_quantized_chain(
    src: DataFrame, m: int, ks: int, iterations: int
) -> tuple[list[DataFrame], DataFrame]:
    """Per-subspace quantized Lloyd over ``src`` (vec_id, v: array<double>)
    as composed lazy DataFrames: returns the per-iteration assignment
    tables (vec_id, mi, code, sv) and the codebook table (mi, code, cv)
    the LAST assignment argmins against. Init = the first ks subvectors
    (vec_id < ks); d^2 rounds 6dp before the argmin (ties -> lowest code);
    the update is the exact micro-unit mean; a code that goes empty keeps
    its previous centroid. Plan shape per iteration: one broadcast join +
    one map-side-collapsed min(struct) argmin + one (mi, code, pos)
    aggregate -- subvectors cross one exchange per iteration and the whole
    loop is a single lazy plan."""
    from .ivf import _d2_expr
    from .relational import MICRO

    dsub = DIM // m
    spark = src.sparkSession
    mi_df = spark.range(m).select(F.col("id").cast("int").alias("mi"))
    sub = src.crossJoin(F.broadcast(mi_df)).select(
        "vec_id",
        "mi",
        F.slice(F.col("v"), F.col("mi") * dsub + F.lit(1), dsub).alias("sv"),
    )
    cents = sub.filter(F.col("vec_id") < ks).select(
        "mi", F.col("vec_id").cast("int").alias("code"), F.col("sv").alias("cv")
    )
    assigns: list[DataFrame] = []
    for it in range(1, iterations + 1):
        exp = sub.join(F.broadcast(cents), "mi").withColumn(
            "cd", _d2_expr(F.col("sv"), F.col("cv"))
        )
        a = (
            exp.groupBy("vec_id", "mi")
            .agg(F.min(F.struct("cd", "code", "sv")).alias("_m"))
            .select(
                "vec_id",
                "mi",
                F.col("_m.code").alias("code"),
                F.col("_m.sv").alias("sv"),
            )
        )
        assigns.append(a)
        if it == iterations:
            break
        el = a.select(
            "mi", "code", F.posexplode(F.col("sv")).alias("p0", "val")
        ).select(
            "mi",
            "code",
            (F.col("p0") + 1).cast("long").alias("pos"),
            F.round(F.col("val") * F.lit(float(MICRO)), 0).cast("long").alias("vm"),
        )
        upd = el.groupBy("mi", "code", "pos").agg(
            F.round(
                F.sum("vm").cast("double") / F.count(F.lit(1)).cast("double"), 0
            )
            .cast("long")
            .alias("cm")
        )
        c_upd = upd.groupBy("mi", "code").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cm"))),
                lambda s: s.getField("cm").cast("double") / F.lit(float(MICRO)),
            ).alias("cv2")
        )
        cents = cents.join(c_upd, ["mi", "code"], "left").select(
            "mi", "code", F.coalesce("cv2", "cv").alias("cv")
        )
    return assigns, cents


def _sample_src(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < TRAIN_SAMPLE)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )


def _checkpointed_chain(
    src: DataFrame, m: int, ks: int, iterations: int
) -> tuple[list[DataFrame], DataFrame]:
    assigns, cents = _pq_quantized_chain(src, m, ks, iterations)
    # eager localCheckpoint truncates the iteration lineage so probes
    # stop re-optimizing the whole training plan (see ivf._quantized_chain)
    return [a.localCheckpoint() for a in assigns], cents.localCheckpoint()


@_memo.per_app
def _pq_sample_chain(
    spark: SparkSession, sf_dir: str, m: int, ks: int, iterations: int
) -> tuple[list[DataFrame], DataFrame]:
    """Shared-prefix cache for the per-subspace chain over the training
    sample (VERDICT r8 item 7): the trainer gate and the trained probe
    rebuild the same iteration chain -- pin it per (application, sf_dir,
    params). Bounded: sample-sized assignment tables + m*ks codebook
    rows."""
    return _checkpointed_chain(_sample_src(spark, sf_dir), m, ks, iterations)


def pq_train_quantized(
    spark: SparkSession,
    sf_dir: str,
    m: int = M_SUBSPACES,
    ks: int = KS_CODES,
    iterations: int = PQ_GATED_ITERS,
) -> DataFrame:
    """The full per-subspace Lloyd training LOOP under the gate: N
    iterations of assign -> micro-unit codebook update -> re-assign over
    the bounded training sample, emitting (iter, mi, code, n_assigned)
    for every iteration of every subspace -- the complete PQ training
    trajectory hash-checked against the loop unrolled as a DuckDB CTE
    chain (kmeans_train_quantized's discipline per subspace)."""
    assigns, _ = _pq_sample_chain(spark, sf_dir, m, ks, iterations)
    outs = [
        a.groupBy("mi", "code")
        .agg(F.count(F.lit(1)).alias("n_assigned"))
        .select(F.lit(it).alias("iter"), "mi", "code", "n_assigned")
        for it, a in enumerate(assigns, start=1)
    ]
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out.orderBy("iter", "mi", "code")


def _pq_quantized_chain_sql(
    m: int, ks: int, iterations: int, src_sql: str, prefix: str = ""
) -> list[str]:
    """DuckDB CTE chain mirroring :func:`_pq_quantized_chain`: src, sub,
    c0..c{N-1}, a1..aN (+upd CTEs). ``src_sql`` must yield
    (vec_id, v DOUBLE[]). ``prefix`` namespaces every CTE so the chain can
    compose with the IVF coarse-quantizer chain (whose names overlap)."""
    from .ivf import _D2_SQL
    from .relational import MICRO

    dsub = DIM // m
    p = prefix
    ctes = [
        f"{p}src AS ({src_sql})",
        f"""{p}sub AS (
  SELECT vec_id, t.mi::INT AS mi,
         v[t.mi * {dsub} + 1 : t.mi * {dsub} + {dsub}] AS sv
  FROM {p}src CROSS JOIN range(0, {m}) t(mi))""",
        f"{p}c0 AS (SELECT mi, vec_id::INT AS code, sv AS cv FROM {p}sub WHERE vec_id < {ks})",
    ]
    for it in range(1, iterations + 1):
        prev = f"{p}c{it - 1}"
        d2 = _D2_SQL.format(v="s.sv", c="c.cv")
        ctes.append(
            f"""{p}a{it} AS (
  SELECT vec_id, mi, code, sv FROM (
    SELECT s.vec_id, s.mi, c.code, s.sv,
           row_number() OVER (PARTITION BY s.vec_id, s.mi
                              ORDER BY {d2}, c.code) AS rn
    FROM {p}sub s JOIN {prev} c USING (mi))
  WHERE rn = 1)"""
        )
        if it == iterations:
            break
        ctes.append(
            f"""{p}upd{it} AS (
  SELECT mi, code, i AS pos,
         round(sum(round(sv[i] * {MICRO}.0)::BIGINT)::DOUBLE
               / count(*)::DOUBLE)::BIGINT AS cm
  FROM {p}a{it} CROSS JOIN range(1, {dsub + 1}) t(i)
  GROUP BY mi, code, pos)"""
        )
        ctes.append(
            f"""{p}c{it} AS (
  SELECT c.mi, c.code, coalesce(u.cv, c.cv) AS cv
  FROM {prev} c LEFT JOIN (SELECT mi, code,
                                  list(cm::DOUBLE / {MICRO}.0 ORDER BY pos) AS cv
                           FROM {p}upd{it} GROUP BY mi, code) u USING (mi, code))"""
        )
    return ctes


def _sample_src_sql() -> str:
    return (
        "SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings"
        f" WHERE vec_id < {TRAIN_SAMPLE}"
    )


def pq_train_quantized_oracle(
    m: int = M_SUBSPACES, ks: int = KS_CODES, iterations: int = PQ_GATED_ITERS
) -> str:
    ctes = _pq_quantized_chain_sql(m, ks, iterations, _sample_src_sql())
    selects = " UNION ALL ".join(
        f"SELECT {it} AS iter, mi, code, count(*) AS n_assigned"
        f" FROM a{it} GROUP BY mi, code"
        for it in range(1, iterations + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + selects + "\nORDER BY iter, mi, code"


@_memo.per_app
def _pq_quantized_codes(
    spark: SparkSession, sf_dir: str, m: int, ks: int, iterations: int
) -> DataFrame:
    """Corpus-wide (vec_id, mi, code) table against the quantized-trained
    codebooks, built once per application (encode is query-independent --
    this IS the persisted PQ index at scale) and lineage-truncated like
    the chains so probes stay small plans."""
    from .ivf import _d2_expr

    _, cents = _pq_sample_chain(spark, sf_dir, m, ks, iterations)
    dsub = DIM // m
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    mi_df = spark.range(m).select(F.col("id").cast("int").alias("mi"))
    sub_all = emb.crossJoin(F.broadcast(mi_df)).select(
        "vec_id",
        "mi",
        F.slice(F.col("v"), F.col("mi") * dsub + F.lit(1), dsub).alias("sv"),
    )
    return (
        sub_all.join(F.broadcast(cents), "mi")
        .withColumn("cd", _d2_expr(F.col("sv"), F.col("cv")))
        .groupBy("vec_id", "mi")
        .agg(F.min(F.struct("cd", "code")).alias("_m"))
        .select("vec_id", "mi", F.col("_m.code").alias("code"))
        .localCheckpoint()
    )


def pq_knn_rerank_quantized(
    spark: SparkSession,
    sf_dir: str,
    metric: str = "cosine",
    k: int = 10,
    query_vec_id: int = 0,
    oversample: int = 5,
    m: int = M_SUBSPACES,
    ks: int = KS_CODES,
    iterations: int = PQ_GATED_ITERS,
) -> DataFrame:
    """Trained-PQ ADC probe whose ENTIRE pipeline is hash-gated: quantized
    per-subspace Lloyd -> encode the whole corpus against the trained
    codebooks -> ADC shortlist in integer micro-units -> exact re-rank.
    The ADC sum is over micro-quantized LUT entries (BIGINTs), so its
    value is summation-order independent -- the property that lets both
    engines agree on the shortlist bit-for-bit. The float ADC twin
    (pq_knn) stays the production path."""
    from .ivf import _d2_expr
    from .relational import MICRO

    dsub = DIM // m
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    _, cents = _pq_sample_chain(spark, sf_dir, m, ks, iterations)
    mi_df = spark.range(m).select(F.col("id").cast("int").alias("mi"))
    codes = _pq_quantized_codes(spark, sf_dir, m, ks, iterations)
    q = emb.filter(F.col("vec_id") == query_vec_id).select(F.col("v").alias("qv"))
    qsub = mi_df.crossJoin(F.broadcast(q)).select(
        "mi",
        F.slice(F.col("qv"), F.col("mi") * dsub + F.lit(1), dsub).alias("qsv"),
    )
    lut = cents.join(F.broadcast(qsub), "mi").select(
        "mi",
        "code",
        F.round(_d2_expr(F.col("qsv"), F.col("cv")) * F.lit(float(MICRO)), 0)
        .cast("long")
        .alias("lut_m"),
    )
    shortlist = (
        codes.join(F.broadcast(lut), ["mi", "code"])
        .groupBy("vec_id")
        .agg(F.sum("lut_m").alias("adc_m"))
        .orderBy("adc_m", "vec_id")
        .limit(k * oversample)
        .select("vec_id")
    )
    return (
        emb.join(F.broadcast(shortlist), "vec_id")
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            distance_expr(metric, "v", "qv").alias("distance"),
        )
        .orderBy("distance", "vec_id")
        .limit(k)
    )


def pq_knn_rerank_quantized_oracle(
    metric: str = "cosine",
    k: int = 10,
    query_vec_id: int = 0,
    oversample: int = 5,
    m: int = M_SUBSPACES,
    ks: int = KS_CODES,
    iterations: int = PQ_GATED_ITERS,
) -> str:
    from .ivf import _D2_SQL
    from ..functions.vector import oracle_distance_sql
    from .relational import MICRO

    dsub = DIM // m
    ctes = _pq_quantized_chain_sql(m, ks, iterations, _sample_src_sql())
    last_c = f"c{iterations - 1}"
    d2all = _D2_SQL.format(v="s.sv", c="c.cv")
    d2q = _D2_SQL.format(v="qs.qsv", c="c.cv")
    dist = oracle_distance_sql(metric, "e.v", "q.qv")
    ctes += [
        "eall AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"""suball AS (
  SELECT vec_id, t.mi::INT AS mi,
         v[t.mi * {dsub} + 1 : t.mi * {dsub} + {dsub}] AS sv
  FROM eall CROSS JOIN range(0, {m}) t(mi))""",
        f"""codes AS (
  SELECT vec_id, mi, code FROM (
    SELECT s.vec_id, s.mi, c.code,
           row_number() OVER (PARTITION BY s.vec_id, s.mi
                              ORDER BY {d2all}, c.code) AS rn
    FROM suball s JOIN {last_c} c USING (mi))
  WHERE rn = 1)""",
        f"q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {query_vec_id})",
        f"""qsub AS (
  SELECT t.mi::INT AS mi, qv[t.mi * {dsub} + 1 : t.mi * {dsub} + {dsub}] AS qsv
  FROM q CROSS JOIN range(0, {m}) t(mi))""",
        f"""lut AS (
  SELECT c.mi, c.code, round({d2q} * {MICRO}.0)::BIGINT AS lut_m
  FROM {last_c} c JOIN qsub qs USING (mi))""",
        """adc AS (
  SELECT vec_id, sum(lut_m)::BIGINT AS adc_m
  FROM codes JOIN lut USING (mi, code) GROUP BY vec_id)""",
        f"short AS (SELECT vec_id FROM adc ORDER BY adc_m, vec_id LIMIT {k * oversample})",
    ]
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT e.vec_id AS vec_id, {dist} AS distance
FROM eall e JOIN short USING (vec_id), q
ORDER BY distance, vec_id
LIMIT {k}"""
    )


@_memo.per_app
def _ivfpq_quantized_index(
    spark: SparkSession, sf_dir: str, m: int, ks: int, iterations: int
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """(cell centroids, residual codebooks, residual table, corpus codes
    table) for the quantized IVFADC composition, cached per application.
    Encoding is probe-independent (a vector's code depends only on its
    residual and the codebooks), so the whole corpus encodes ONCE --
    (vec_id, cell, mi, code) is the index artifact a cluster persists
    partitionBy(cell); per-query work is then a probed-cell filter plus
    the tiny LUT and re-rank joins."""
    from .ivf import KMEANS_GATED_ITERS, NUM_CELLS, _d2_expr, _quantized_chain

    dsub = DIM // m
    assigns, cents = _quantized_chain(spark, sf_dir, NUM_CELLS, KMEANS_GATED_ITERS)
    resid = (
        assigns[-1]
        .join(F.broadcast(cents), "cell")
        .select(
            "vec_id",
            "cell",
            F.zip_with(
                F.col("embedding").cast("array<double>"),
                F.col("cv"),
                lambda x, y: x - y,
            ).alias("v"),
        )
        .localCheckpoint()
    )
    assigns_r, pcents = _checkpointed_chain(
        resid.filter(F.col("vec_id") < TRAIN_SAMPLE).select("vec_id", "v"),
        m,
        ks,
        iterations,
    )
    _memo.hold(spark, assigns_r)  # released by clear() with the index
    mi_df = spark.range(m).select(F.col("id").cast("int").alias("mi"))
    sub = resid.crossJoin(F.broadcast(mi_df)).select(
        "vec_id",
        "cell",
        "mi",
        F.slice(F.col("v"), F.col("mi") * dsub + F.lit(1), dsub).alias("sv"),
    )
    codes_all = (
        sub.join(F.broadcast(pcents), "mi")
        .withColumn("cd", _d2_expr(F.col("sv"), F.col("cv")))
        .groupBy("vec_id", "cell", "mi")
        .agg(F.min(F.struct("cd", "code")).alias("_m"))
        .select("vec_id", "cell", "mi", F.col("_m.code").alias("code"))
        .localCheckpoint()
    )
    return cents, pcents, resid, codes_all


def ivfpq_knn_quantized(
    spark: SparkSession,
    sf_dir: str,
    metric: str = "cosine",
    k: int = 10,
    query_vec_id: int = 0,
    oversample: int = 5,
    m: int = M_SUBSPACES,
    ks: int = KS_CODES,
    iterations: int = PQ_GATED_ITERS,
) -> DataFrame:
    """The IVFADC COMPOSITION with every stage under the hash gate:
    quantized-Lloyd coarse cells (ivf._quantized_chain) -> residuals vs
    the trained cell centroid -> quantized per-subspace Lloyd residual
    codebooks -> NPROBE nearest-cell probe -> per-cell micro-unit ADC over
    residual codes -> exact re-rank. The float twin (ivfpq_knn) stays the
    production path; this closes the last composition that was only
    recall-gated (VERDICT r8 item 1). The build phase -- residuals and
    the corpus-wide residual codes table (vec_id, cell, mi, code) -- is
    cached per application like the float _ivfpq_index: the codes table
    IS the persisted IVFADC index at 100 TB, built once; a query touches
    only the probed cells' code rows plus the tiny LUT/rerank joins."""
    from .ivf import NPROBE, _d2_expr
    from .relational import MICRO

    dsub = DIM // m
    cents, pcents, resid, codes_all = _ivfpq_quantized_index(
        spark, sf_dir, m, ks, iterations
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = emb.filter(F.col("vec_id") == query_vec_id).select(F.col("v").alias("qv"))
    probe = (
        cents.crossJoin(F.broadcast(q))
        .select("cell", _d2_expr(F.col("cv"), F.col("qv")).alias("qd"))
        .orderBy("qd", "cell")
        .limit(NPROBE)
        .select("cell")
    )
    mi_df = spark.range(m).select(F.col("id").cast("int").alias("mi"))
    qres = (
        cents.join(F.broadcast(probe), "cell")
        .crossJoin(F.broadcast(q))
        .select(
            "cell",
            F.zip_with(F.col("qv"), F.col("cv"), lambda x, y: x - y).alias("rv"),
        )
    )
    qsub = qres.crossJoin(F.broadcast(mi_df)).select(
        "cell",
        "mi",
        F.slice(F.col("rv"), F.col("mi") * dsub + F.lit(1), dsub).alias("qsv"),
    )
    lut = pcents.join(F.broadcast(qsub), "mi").select(
        "cell",
        "mi",
        "code",
        F.round(_d2_expr(F.col("qsv"), F.col("cv")) * F.lit(float(MICRO)), 0)
        .cast("long")
        .alias("lut_m"),
    )
    codes = codes_all.join(F.broadcast(probe), "cell")
    shortlist = (
        codes.join(F.broadcast(lut), ["cell", "mi", "code"])
        .groupBy("vec_id")
        .agg(F.sum("lut_m").alias("adc_m"))
        .orderBy("adc_m", "vec_id")
        .limit(k * oversample)
        .select("vec_id")
    )
    return (
        emb.join(F.broadcast(shortlist), "vec_id")
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            distance_expr(metric, "v", "qv").alias("distance"),
        )
        .orderBy("distance", "vec_id")
        .limit(k)
    )


def ivfpq_knn_quantized_oracle(
    metric: str = "cosine",
    k: int = 10,
    query_vec_id: int = 0,
    oversample: int = 5,
    m: int = M_SUBSPACES,
    ks: int = KS_CODES,
    iterations: int = PQ_GATED_ITERS,
) -> str:
    from ..functions.vector import oracle_distance_sql
    from .ivf import (
        KMEANS_GATED_ITERS,
        NPROBE,
        NUM_CELLS,
        _D2_SQL,
        _quantized_chain_sql,
    )
    from .relational import MICRO

    dsub = DIM // m
    ctes = _quantized_chain_sql(NUM_CELLS, KMEANS_GATED_ITERS)
    last_a = f"a{KMEANS_GATED_ITERS}"
    last_c = f"c{KMEANS_GATED_ITERS - 1}"
    ctes.append(
        f"""resid AS (
  SELECT e.vec_id, a.cell,
         list_transform(list_zip(e.v, c.cv), z -> z[1] - z[2]) AS v
  FROM e JOIN {last_a} a USING (vec_id) JOIN {last_c} c USING (cell))"""
    )
    ctes += _pq_quantized_chain_sql(
        m,
        ks,
        iterations,
        f"SELECT vec_id, v FROM resid WHERE vec_id < {TRAIN_SAMPLE}",
        prefix="p",
    )
    plast = f"pc{iterations - 1}"
    qd = _D2_SQL.format(v=f"{last_c}.cv", c="q.qv")
    d2q = _D2_SQL.format(v="qs.qsv", c="c.cv")
    d2c = _D2_SQL.format(v="s.sv", c="c.cv")
    dist = oracle_distance_sql(metric, "e.v", "q.qv")
    ctes += [
        f"q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {query_vec_id})",
        f"""probe AS (
  SELECT cell FROM {last_c}, q ORDER BY {qd}, cell LIMIT {NPROBE})""",
        f"""qres AS (
  SELECT c.cell, list_transform(list_zip(q.qv, c.cv), z -> z[1] - z[2]) AS rv
  FROM {last_c} c JOIN probe USING (cell), q)""",
        f"""qsub AS (
  SELECT cell, t.mi::INT AS mi,
         rv[t.mi * {dsub} + 1 : t.mi * {dsub} + {dsub}] AS qsv
  FROM qres CROSS JOIN range(0, {m}) t(mi))""",
        f"""lut AS (
  SELECT qs.cell, c.mi, c.code, round({d2q} * {MICRO}.0)::BIGINT AS lut_m
  FROM {plast} c JOIN qsub qs USING (mi))""",
        "pool AS (SELECT r.vec_id, r.cell, r.v FROM resid r JOIN probe USING (cell))",
        f"""poolsub AS (
  SELECT vec_id, cell, t.mi::INT AS mi,
         v[t.mi * {dsub} + 1 : t.mi * {dsub} + {dsub}] AS sv
  FROM pool CROSS JOIN range(0, {m}) t(mi))""",
        f"""codes AS (
  SELECT vec_id, cell, mi, code FROM (
    SELECT s.vec_id, s.cell, s.mi, c.code,
           row_number() OVER (PARTITION BY s.vec_id, s.mi
                              ORDER BY {d2c}, c.code) AS rn
    FROM poolsub s JOIN {plast} c USING (mi))
  WHERE rn = 1)""",
        """adc AS (
  SELECT vec_id, sum(lut_m)::BIGINT AS adc_m
  FROM codes JOIN lut USING (cell, mi, code) GROUP BY vec_id)""",
        f"short AS (SELECT vec_id FROM adc ORDER BY adc_m, vec_id LIMIT {k * oversample})",
    ]
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT e.vec_id AS vec_id, {dist} AS distance
FROM e JOIN short USING (vec_id), q
ORDER BY distance, vec_id
LIMIT {k}"""
    )
