"""Vector distance expressions as pure Spark SQL columns.

Reference parity (semantics only, see SURVEY.md §2.7):
  - cosine_distance  = 1 - (v.q)/(|v||q|); +inf when either norm is zero
    (reference: vector_db/indexes.py:108-115 -- zero-norm rows are still
    *included* in results, sorted last).
  - euclidean_distance = |v-q|_2            (vector_db/indexes.py:117-119)
  - dot_product_distance = -(v.q)           (vector_db/indexes.py:121-123;
    negated so ascending sort is best-first everywhere).
  - metric dispatch by name                 (vector_db/indexes.py:99-106)

Design: everything here is a Column expression over ``array<float>`` built
from ``zip_with``/``aggregate`` -- it stays JVM-side (no Python UDF in the
hot path) and is expressible 1:1 in the DuckDB oracle SQL. ``ZipWith`` and
``ArrayAggregate`` are ``CodegenFallback`` expressions in Spark 4.1, so
inside a whole-stage-codegen stage they are interpreted per row, lambda by
lambda; the Arrow/NumPy kernels (``knn.flat_knn_fast``,
``lsh.bucket_kernel``) are the vectorized alternative. Inputs are cast to
``array<double>`` so both engines accumulate in float64 and hash-match
after rounding.

All distances are computed in double and, when ``round_to`` is given,
rounded half-up and normalized (+0.0) so Spark and DuckDB produce
bit-identical doubles (-0.0 folds to +0.0; ties then break on id columns).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

METRICS = ("cosine", "euclidean", "dot_product")


def _dbl(a: Column) -> Column:
    return a.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product in double precision."""
    return F.aggregate(
        F.zip_with(_dbl(a), _dbl(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine_distance(v: Column, q: Column) -> Column:
    denom = l2_norm(v) * l2_norm(q)
    return F.when(denom == 0.0, F.lit(float("inf"))).otherwise(
        F.lit(1.0) - dot(v, q) / denom
    )


def euclidean_distance(v: Column, q: Column) -> Column:
    diff_sq = F.zip_with(_dbl(v), _dbl(q), lambda x, y: (x - y) * (x - y))
    return F.sqrt(F.aggregate(diff_sq, F.lit(0.0), lambda acc, x: acc + x))


def dot_product_distance(v: Column, q: Column) -> Column:
    return -dot(v, q)


_DISPATCH = {
    "cosine": cosine_distance,
    "euclidean": euclidean_distance,
    "dot_product": dot_product_distance,
}


def distance_expr(metric: str, v: Column, q: Column, round_to: int | None = 6) -> Column:
    """Metric dispatch (reference vector_db/indexes.py:99-106); unknown -> raise."""
    try:
        fn = _DISPATCH[metric]
    except KeyError:
        raise ValueError(f"unknown distance metric: {metric!r}; expected one of {METRICS}")
    d = fn(v, q)
    return normalize_float(d, round_to)


def normalize_float(c: Column, round_to: int | None = 6) -> Column:
    """Round half-up and fold -0.0 to +0.0 so engine and oracle hash-match."""
    if round_to is not None:
        c = F.round(c, round_to)
    return c + F.lit(0.0)


def oracle_distance_sql(metric: str, v: str, q: str, round_to: int | None = 6) -> str:
    """DuckDB SQL fragment computing the SAME distance as :func:`distance_expr`.

    ``v``/``q`` are SQL expressions of type DOUBLE[] (cast float lists with
    ``::DOUBLE[]`` first so both engines accumulate in float64).
    """
    ip = f"list_inner_product({v}, {q})"
    nv = f"sqrt(list_inner_product({v}, {v}))"
    nq = f"sqrt(list_inner_product({q}, {q}))"
    if metric == "cosine":
        d = (
            f"CASE WHEN {nv} * {nq} = 0 THEN 'infinity'::DOUBLE "
            f"ELSE 1 - {ip} / ({nv} * {nq}) END"
        )
    elif metric == "euclidean":
        d = (
            f"sqrt(list_sum(list_transform(list_zip({v}, {q}), "
            f"z -> (z[1] - z[2]) * (z[1] - z[2]))))"
        )
    elif metric == "dot_product":
        d = f"-{ip}"
    else:
        raise ValueError(f"unknown distance metric: {metric!r}")
    if round_to is not None:
        d = f"round({d}, {round_to})"
    return f"({d} + 0.0)"
