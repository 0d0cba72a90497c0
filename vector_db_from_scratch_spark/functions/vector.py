"""The distance contract: Spark SQL columns, their DuckDB twins, and NumPy.

Reference parity (semantics only, see SURVEY.md §2.7):
  - cosine_distance  = 1 - (v.q)/(|v||q|); +inf when either norm is zero
    (reference: vector_db/indexes.py:108-115 -- zero-norm rows are still
    *included* in results, sorted last).
  - euclidean_distance = |v-q|_2            (vector_db/indexes.py:117-119)
  - dot_product_distance = -(v.q)           (vector_db/indexes.py:121-123;
    negated so ascending sort is best-first everywhere).
  - metric dispatch by name                 (vector_db/indexes.py:99-106)

Three forms of the same contract live here:
  - ``distance_expr`` (and ``dot``, ``l2_norm`` and the per-metric
    functions): one Spark SQL string per call, parsed by a single
    ``F.expr``, over ``zip_with``/``aggregate`` on ``array<double>``.
    Each operand is a column name, a driver-side vector (written into the
    text as ``array(<repr>D, ...)``, NaN and ±inf as ``CAST``s, so every
    double is spelled exactly) or a ``Column`` (rendered once through the
    session's expression converter). Building it costs one py4j call per
    ``Column`` operand plus the parse, not one per literal, operator and
    lambda. The converter is ``SparkSession._jsparkSession.expression``,
    an internal JVM method of a classic (non-Connect) session; the
    rendering is pinned by tests on Spark 4.1.2 only, so callers pass a
    column name wherever the operand is a plain column and keep
    ``Column`` operands for real expressions (``F.slice``, a cast).
    ``ZipWith`` and ``ArrayAggregate`` are ``CodegenFallback``
    expressions in Spark 4.1, so inside a whole-stage codegen stage they
    are interpreted per row, lambda by lambda. Inputs are cast to
    ``array<double>`` so Spark and DuckDB both accumulate in float64.
  - ``oracle_distance_sql``: the same distances as DuckDB SQL, 1:1 with
    ``distance_expr``.
  - the NumPy form for Arrow kernels: :func:`arrow_embeddings` decodes an
    ``embedding`` list column, :func:`distance_matrix` scores it against a
    query matrix, and :func:`round6` applies the 6-dp rule. The exact-scan
    kernel in ``operators/knn.py`` and the LSH sign-pack in
    ``operators/lsh.py`` are built on them.

All distances are computed in double and, when ``round_to`` is given,
rounded half away from zero and normalized (+0.0) so Spark and DuckDB
produce bit-identical doubles (-0.0 folds to +0.0; ties then break on id
columns). :func:`round6` is the NumPy twin of DuckDB's ``round(x, 6) + 0.0``.
"""

from __future__ import annotations

import math
from typing import Sequence, Union

import numpy as np
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

METRICS = ("cosine", "euclidean", "dot_product")

# a column name (dots qualify, as in ``F.col``), a driver-side vector, or a Column
Operand = Union[str, Sequence[float], np.ndarray, Column]


def _double_sql(x: float) -> str:
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return "CAST('Infinity' AS DOUBLE)" if x > 0 else "CAST('-Infinity' AS DOUBLE)"
    return f"{x!r}D"


def _operand_sql(a: Operand) -> str:
    """SQL text of one operand. A ``Column`` goes through the session's
    converter (an internal, classic-session JVM method; see the module
    docstring), which quotes names where needed and spells double literals
    exactly; note that it prints no cast to an array, map or struct type
    (``Cast.sql`` omits those), so cast such operands in a column first."""
    if isinstance(a, str):
        return ".".join(f"`{part}`" for part in a.split("."))
    if isinstance(a, Column):
        return SparkSession.active()._jsparkSession.expression(a._jc).sql()
    return "array(" + ", ".join(_double_sql(float(x)) for x in a) + ")"


def _fold_sql(a: str, b: str, term: str) -> str:
    """Sequential left-fold sum, in double precision, of ``term`` over the
    element pairs ``(x, y)`` of ``a`` and ``b``."""
    return (
        f"aggregate(zip_with(CAST({a} AS ARRAY<DOUBLE>), CAST({b} AS ARRAY<DOUBLE>), "
        f"(x, y) -> {term}), 0.0D, (acc, x) -> acc + x)"
    )


def _dot_sql(a: str, b: str) -> str:
    return _fold_sql(a, b, "x * y")


def _l2_norm_sql(a: str) -> str:
    return f"SQRT({_dot_sql(a, a)})"


def _cosine_sql(v: str, q: str) -> str:
    denom = f"({_l2_norm_sql(v)} * {_l2_norm_sql(q)})"
    return (
        f"CASE WHEN {denom} = 0.0D THEN CAST('Infinity' AS DOUBLE) "
        f"ELSE 1.0D - {_dot_sql(v, q)} / {denom} END"
    )


def _euclidean_sql(v: str, q: str) -> str:
    return f"SQRT({_fold_sql(v, q, '(x - y) * (x - y)')})"


def _dot_product_sql(v: str, q: str) -> str:
    return f"-({_dot_sql(v, q)})"


_DISPATCH = {
    "cosine": _cosine_sql,
    "euclidean": _euclidean_sql,
    "dot_product": _dot_product_sql,
}


def dot(a: Operand, b: Operand) -> Column:
    return F.expr(_dot_sql(_operand_sql(a), _operand_sql(b)))


def l2_norm(a: Operand) -> Column:
    return F.expr(_l2_norm_sql(_operand_sql(a)))


def cosine_distance(v: Operand, q: Operand) -> Column:
    return F.expr(_cosine_sql(_operand_sql(v), _operand_sql(q)))


def euclidean_distance(v: Operand, q: Operand) -> Column:
    return F.expr(_euclidean_sql(_operand_sql(v), _operand_sql(q)))


def dot_product_distance(v: Operand, q: Operand) -> Column:
    return F.expr(_dot_product_sql(_operand_sql(v), _operand_sql(q)))


def distance_expr(metric: str, v: Operand, q: Operand, round_to: int | None = 6) -> Column:
    """Metric dispatch (reference vector_db/indexes.py:99-106); unknown -> raise.
    The distance, rounded and normalized like :func:`normalize_float`, as
    one parsed SQL expression."""
    try:
        fn = _DISPATCH[metric]
    except KeyError:
        raise ValueError(f"unknown distance metric: {metric!r}; expected one of {METRICS}")
    d = fn(_operand_sql(v), _operand_sql(q))
    if round_to is not None:
        d = f"round({d}, {int(round_to)})"
    return F.expr(f"({d}) + 0.0D")


def normalize_float(c: Column, round_to: int | None = 6) -> Column:
    """Round to ``round_to`` dp and fold -0.0 to +0.0 so engine and oracle
    hash-match."""
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


def round6(a: np.ndarray) -> np.ndarray:
    """NumPy twin of DuckDB's ``round(x, 6) + 0.0``: half away from zero
    (``np.round`` rounds half to even), ±inf and NaN kept, -0.0 folded to
    +0.0. Every 6-dp rounding in a NumPy kernel goes through here."""
    return np.sign(a) * np.floor(np.abs(a) * 1e6 + 0.5) / 1e6 + 0.0


def arrow_embeddings(emb, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """Decode one Arrow batch's ``embedding`` list column into ``(ok, m)``:
    ``ok`` marks the rows whose embedding is non-NULL, has ``dim``
    elements and no NULL element, and ``m`` is those rows as a float64
    ``(ok.sum(), dim)`` matrix. The other rows are the ones whose
    :func:`distance_expr` is NULL. NULL elements are read from the validity
    bitmap, before NumPy would turn them into NaN."""
    import pyarrow as pa
    import pyarrow.compute as pc

    ok = pc.fill_null(pc.list_value_length(emb), -1).to_numpy() == dim
    vals = emb.filter(pa.array(ok)).flatten()  # dim values per kept row
    m = vals.to_numpy(zero_copy_only=False).reshape(-1, dim)
    if vals.null_count:
        has_null = vals.is_null().to_numpy(zero_copy_only=False).reshape(-1, dim).any(axis=1)
        ok[np.flatnonzero(ok)[has_null]] = False
        m = m[~has_null]
    return ok, m.astype(np.float64)


def distance_matrix(metric: str, m: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Unrounded ``(len(m), len(q))`` distances of the rows of ``m`` to the
    queries ``q`` (both float64), with :func:`distance_expr`'s formulas.
    Euclidean is a per-query difference norm: the ``|v|^2 - 2vq + |q|^2``
    GEMM form cancels catastrophically on near-identical vectors."""
    if metric == "euclidean":
        return np.stack([np.linalg.norm(m - qj, axis=1) for qj in q], axis=1)
    if metric not in METRICS:
        raise ValueError(f"unknown distance metric: {metric!r}; expected one of {METRICS}")
    sims = m @ q.T
    if metric == "dot_product":
        return -sims
    denom = np.linalg.norm(m, axis=1)[:, None] * np.linalg.norm(q, axis=1)[None, :]
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(denom == 0.0, np.inf, 1.0 - sims / denom)
