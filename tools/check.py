"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same parquet tables, then compares
row count, schema (column names), and order-insensitive values (exact for
ints/strings, bit-exact for doubles -- queries round in BOTH engines, so
anything non-identical is a real divergence to fix).

Usage: python tools/check.py [sf_dir] [query_name ...]

Trained artifacts (IVF, PQ, media fixtures) are rebuilt in a fresh
directory removed at exit, unless ``$SPARK_GRAFT_ARTIFACT_DIR`` names one.
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def nested_columns(df: pd.DataFrame) -> list[str]:
    """Columns holding list/ndarray/dict cells. The driver's canonicalizer
    sorts every column before hashing and pandas cannot factorize such
    cells (round-1: 'unhashable type: list'), so ANY queries() entry --
    oracle-checked or rows-only -- must be free of them."""
    bad = []
    for c in df.columns:
        if df[c].dtype == object and len(df):
            v = df[c].iloc[0]
            if isinstance(v, (list, dict, np.ndarray)):
                bad.append(c)
    return bad


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def frames_equal(a: pd.DataFrame, b: pd.DataFrame) -> tuple[bool, str]:
    if list(a.columns) != list(b.columns):
        return False, f"columns {list(a.columns)} != {list(b.columns)}"
    if len(a) != len(b):
        return False, f"row count {len(a)} != {len(b)}"
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        # int-vs-float divergence: numpy == would pass (1002 == 1002.0)
        # but the driver hashes canonical values, so dtype families must
        # agree (round-1 pivot_order_status: DuckDB HUGEINT -> float64)
        fam = lambda d: ("f" if np.issubdtype(d, np.floating)
                         else "i" if np.issubdtype(d, np.integer) else "o")
        if fam(av.dtype) != fam(bv.dtype):
            return False, f"col {c}: dtype family {av.dtype} != {bv.dtype} (driver hash would diverge)"
        if np.issubdtype(av.dtype, np.floating):
            same = (av == bv) | (np.isnan(av) & np.isnan(bv))
            if not same.all():
                i = int(np.argmin(same))
                return False, f"col {c}: {av[i]!r} != {bv[i]!r} (maxdiff {np.nanmax(np.abs(av - bv)):.3e})"
        else:
            if not (av == bv).all():
                i = int(np.argmin(av == bv))
                return False, f"col {c}: {av[i]!r} != {bv[i]!r}"
    return True, "ok"


def check_one(spark, con, name: str, fn, oracle: str | None, sf_dir: str):
    """Returns (status, message); status in {PASS, FAIL, SKIP}."""
    try:
        raw = fn(spark, sf_dir).toPandas()
    except Exception as e:
        return "FAIL", f"spark error: {e}"
    bad = nested_columns(raw)
    if bad:
        return "FAIL", f"nested-typed result columns {bad} (driver canonicalizer cannot hash)"
    sdf = normalize(raw)
    if oracle is None:
        return "SKIP", f"no oracle (rows-only: {len(sdf)} rows)"
    try:
        odf = normalize(con.execute(oracle).fetchdf())
    except Exception as e:
        return "FAIL", f"oracle error: {e}"
    ok, msg = frames_equal(sdf, odf)
    return ("PASS" if ok else "FAIL"), f"{len(sdf)} rows; {msg}"


def check_all(spark, sf_dir: str, only: list[str] | None = None) -> list[tuple[str, str, str]]:
    import __spark_entry__ as entrymod

    con = duck_connection(sf_dir)
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    results = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        status, msg = check_one(spark, con, name, fn, oracles.get(name), sf_dir)
        results.append((name, status, msg))
    return results


def run(sf_dir: str, only: list[str] | None = None) -> int:
    from vector_db_from_scratch_spark.session import get_spark
    from vector_db_from_scratch_spark.sources.artifacts import ARTIFACT_ROOT_ENV, scratch_dir

    # trained artifacts come from this run unless a directory is given:
    # a check inherits nothing that an earlier run left behind
    if ARTIFACT_ROOT_ENV not in os.environ:
        os.environ[ARTIFACT_ROOT_ENV] = scratch_dir("check-artifacts-")
    spark = get_spark("oracle-check")
    failures = 0
    for name, status, msg in check_all(spark, sf_dir, only):
        if status == "FAIL":
            failures += 1
        print(f"{status} {name}: {msg}")
    spark.stop()
    return failures


if __name__ == "__main__":
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = sys.argv[2:] or None
    sys.exit(1 if run(sf_dir, only) else 0)
