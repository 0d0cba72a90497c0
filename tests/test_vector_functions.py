"""Unit tests for the distance expression library vs NumPy ground truth.

Mirrors reference scenarios from tests/test_indexes.py (metric winners,
ordering) and the zero-norm +inf trap (vector_db/indexes.py:112-113).
"""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from vector_db_from_scratch_spark.functions.vector import distance_expr

VECS = [
    ([1.0, 0.0, 0.0], [1.0, 0.0, 0.0]),
    ([1.0, 0.0, 0.0], [0.0, 1.0, 0.0]),
    ([1.0, 2.0, 3.0], [4.0, 5.0, 6.0]),
    ([-1.5, 0.25, 2.0], [0.5, -0.5, 1.0]),
]


def _spark_distance(spark, metric, v, q, round_to=None):
    df = spark.createDataFrame([(v, q)], "v array<float>, q array<float>")
    return df.select(
        distance_expr(metric, F.col("v"), F.col("q"), round_to=round_to).alias("d")
    ).collect()[0]["d"]


def _np_distance(metric, v, q):
    v, q = np.asarray(v, dtype=np.float32).astype(np.float64), np.asarray(
        q, dtype=np.float32
    ).astype(np.float64)
    if metric == "cosine":
        nv, nq = np.linalg.norm(v), np.linalg.norm(q)
        if nv * nq == 0:
            return float("inf")
        return 1.0 - float(v @ q) / (nv * nq)
    if metric == "euclidean":
        return float(np.linalg.norm(v - q))
    return -float(v @ q)


@pytest.mark.parametrize("metric", ["cosine", "euclidean", "dot_product"])
@pytest.mark.parametrize("v,q", VECS)
def test_distance_matches_numpy(spark, metric, v, q):
    got = _spark_distance(spark, metric, v, q)
    want = _np_distance(metric, v, q)
    assert got == pytest.approx(want, rel=1e-9, abs=1e-12)


def test_cosine_zero_norm_is_inf(spark):
    assert math.isinf(_spark_distance(spark, "cosine", [0.0, 0.0], [1.0, 2.0]))
    assert math.isinf(_spark_distance(spark, "cosine", [1.0, 2.0], [0.0, 0.0]))


def test_unknown_metric_raises():
    with pytest.raises(ValueError, match="unknown distance metric"):
        distance_expr("manhattan", F.col("v"), F.col("q"))


def test_rounding_normalizes_negative_zero(spark):
    # -0.0 must fold to +0.0 so value hashes match the oracle
    d = _spark_distance(spark, "dot_product", [0.0, 0.0], [1.0, 1.0], round_to=6)
    assert math.copysign(1.0, d) == 1.0


def test_round6_equals_duckdb_round():
    """``round6`` is bit-identical to DuckDB's ``round(x, 6) + 0.0`` on
    exact 6-dp halves of both signs (where ``np.round``'s half-to-even and
    a one-sided ``floor(x * 1e6 + 0.5)`` both disagree), random doubles of
    both signs, and ±inf, ±0.0 and NaN. No Spark session."""
    import duckdb
    import pandas as pd

    from vector_db_from_scratch_spark.functions.vector import round6

    halves = (np.arange(20_000) + 0.5) / 1e6
    rng = np.random.default_rng(11)
    x = np.concatenate(
        [
            halves,
            -halves,
            rng.uniform(-2.0, 2.0, 20_000),
            rng.uniform(-1e4, 1e4, 20_000),
            [np.inf, -np.inf, 0.0, -0.0, np.nan],
        ]
    )
    df = pd.DataFrame({"i": np.arange(len(x)), "x": x})
    con = duckdb.connect()
    con.register("xs", df)
    want = con.execute("SELECT round(x, 6) + 0.0 AS r FROM xs ORDER BY i").fetchdf()["r"]
    want = want.to_numpy(dtype=np.float64)
    got = round6(x)
    same = ((got == want) & (np.signbit(got) == np.signbit(want))) | (
        np.isnan(got) & np.isnan(want)
    )
    assert same.all(), list(zip(x[~same][:5], got[~same][:5], want[~same][:5]))
