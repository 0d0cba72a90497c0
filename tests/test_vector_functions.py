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


# The Column builder that distance_expr replaced (one py4j call per literal,
# operator and lambda), kept verbatim as the reference for the SQL-text form.
def _ref_dbl(a):
    return a.cast("array<double>")


def _ref_dot(a, b):
    return F.aggregate(
        F.zip_with(_ref_dbl(a), _ref_dbl(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _ref_l2_norm(a):
    return F.sqrt(_ref_dot(a, a))


def _ref_cosine_distance(v, q):
    denom = _ref_l2_norm(v) * _ref_l2_norm(q)
    return F.when(denom == 0.0, F.lit(float("inf"))).otherwise(
        F.lit(1.0) - _ref_dot(v, q) / denom
    )


def _ref_euclidean_distance(v, q):
    diff_sq = F.zip_with(_ref_dbl(v), _ref_dbl(q), lambda x, y: (x - y) * (x - y))
    return F.sqrt(F.aggregate(diff_sq, F.lit(0.0), lambda acc, x: acc + x))


def _ref_dot_product_distance(v, q):
    return -_ref_dot(v, q)


_REF_DISPATCH = {
    "cosine": _ref_cosine_distance,
    "euclidean": _ref_euclidean_distance,
    "dot_product": _ref_dot_product_distance,
}


def _ref_distance_expr(metric, v, q, round_to=6):
    d = _REF_DISPATCH[metric](v, q)
    if round_to is not None:
        d = F.round(d, round_to)
    return d + F.lit(0.0)


def _hex(x):
    if x is None:
        return None
    return "nan" if math.isnan(x) else float.hex(x)


@pytest.fixture(scope="module")
def distance_rows(spark):
    """Dyadic k/128 rows, a zero vector, NULL, a 63-element embedding and
    one with a NULL element, in ``embedding array<float>``."""
    rng = np.random.default_rng(7)
    rows = [[float(x) for x in rng.integers(-128, 129, 64) / 128] for _ in range(40)]
    rows += [[0.0] * 64, None, [0.5] * 63, [0.25] * 31 + [None] + [0.25] * 32]
    return spark.createDataFrame([(i, r) for i, r in enumerate(rows)],
                                 "id int, embedding array<float>")


def _queries():
    rng = np.random.default_rng(8)
    rand = [float(x) for x in rng.standard_normal(64)]
    rand[3] = -0.0
    dyadic = [k / 128 for k in range(-32, 32)]
    dyadic[0] = -0.0
    return {"random": rand, "zero": [0.0] * 32 + [-0.0] * 32, "dyadic": dyadic}


@pytest.mark.parametrize("round_to", [6, None])
@pytest.mark.parametrize("metric", ["cosine", "euclidean", "dot_product"])
def test_sql_text_distance_is_bit_identical_to_column_builder(
    spark, distance_rows, metric, round_to
):
    """The one-``F.expr`` distance equals the Column builder it replaced, bit
    for bit, whether the candidate is a column name or a Column and the
    query a driver-side vector or a Column (an ``F.array`` of literals)."""
    for name, q in _queries().items():
        q_col = F.array(*[F.lit(float(x)) for x in q])
        cases = {
            "reference": _ref_distance_expr(metric, F.col("embedding"), q_col, round_to),
            "name_vector": distance_expr(metric, "embedding", q, round_to=round_to),
            "column_vector": distance_expr(metric, F.col("embedding"), q, round_to=round_to),
            "name_column": distance_expr(metric, "embedding", q_col, round_to=round_to),
            "ndarray": distance_expr(metric, "embedding", np.asarray(q), round_to=round_to),
        }
        rows = distance_rows.select(
            "id", *[c.alias(k) for k, c in cases.items()]
        ).orderBy("id").collect()
        assert len(rows) == 44
        for r in rows:
            want = _hex(r["reference"])
            for k in cases:
                assert _hex(r[k]) == want, (name, r["id"], k, r[k], r["reference"])


def test_sql_text_operands_render_exactly(spark):
    """NaN, ±inf, -0.0 and full-precision doubles in a driver-side vector
    parse back to the same doubles; a dotted name qualifies like ``F.col``."""
    from vector_db_from_scratch_spark.functions.vector import _operand_sql, l2_norm

    v = [float("nan"), float("inf"), float("-inf"), -0.0, 0.1, 1e-300, 2.0 ** 70 + 2.0 ** 18]
    got = spark.range(1).select(F.expr(_operand_sql(v)).alias("a")).collect()[0]["a"]
    assert [_hex(x) for x in got] == [_hex(x) for x in v]
    a = spark.createDataFrame([([3.0, 4.0],)], "u array<double>").alias("a")
    assert a.select(l2_norm("a.u").alias("n")).collect()[0]["n"] == 5.0


def test_column_operand_renders_through_classic_session_converter(spark):
    """A ``Column`` operand is rendered by ``SparkSession._jsparkSession
    .expression(col._jc).sql()``, an internal method of classic sessions.
    On Spark 4.1.2, the version this engine pins, it quotes a name that
    needs quoting and spells double literals exactly; a Spark upgrade must
    keep both."""
    import pyspark

    from vector_db_from_scratch_spark.functions.vector import _operand_sql, dot

    df = spark.createDataFrame([([1.0, 2.0],)], "`odd name` array<double>")
    version = f"Column rendering changed on Spark {pyspark.__version__}"
    assert "`odd name`" in _operand_sql(F.col("odd name")), version
    x = 0.1 + 0.2
    q = F.array(F.lit(x), F.lit(1e-300))
    got = df.select(dot(F.col("odd name"), q).alias("d")).collect()[0]["d"]
    assert got == 1.0 * x + 2.0 * 1e-300, version
