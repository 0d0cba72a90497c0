"""Parquet table loaders for the driver's testdata directories.

Reference parity: the reference bootstraps its whole store by globbing JSON
files per entity directory (``vector_db/disk_store.py:45-84``); here every
"store" is simply a lazily-scanned parquet table, so recovery/bootstrap is
free and Catalyst gets pushdown + pruning on every scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.parquet stores TIMESTAMP(NANOS), which Spark 4 refuses by
        # default; set the (runtime-settable) legacy conf defensively so
        # sessions we did not build -- e.g. the correctness driver's --
        # can read it too
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        # ts is TIMESTAMP(NANOS) in the file; with nanosAsLong it arrives as
        # a bigint of nanoseconds -- convert to Spark's native microsecond
        # timestamp (floor division, matching datetime64[ns]->[us] truncation)
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        if isinstance(df.schema["ts"].dataType, LongType):
            # integer division: a double `/` rounds at 1e18-ns magnitudes
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each table as a temp view so spark.sql() queries work."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def arrow_local_df(spark: SparkSession, data: dict, schema: str | StructType) -> DataFrame:
    """Small driver-side table as a DataFrame via the pandas/Arrow path.

    The tuple-list ``createDataFrame`` route builds a pickled local
    relation that re-verifies and re-serializes its rows on EVERY
    execution -- measured ~4.5s PER ACTION for 16 rows carrying an
    ``array<float>`` column on this Spark build, repeated each time the
    plan runs. The Arrow route converts once (~0.15s) and the explicit
    schema pins exact column types (including float32 arrays), so every
    broadcast centroid/codebook/LUT table goes through here."""
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame(data), schema)
