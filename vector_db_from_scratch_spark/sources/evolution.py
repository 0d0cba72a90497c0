"""Schema-evolution source: mergeSchema over heterogeneous parquet shards.

Long-lived lakes accrete shards written under different schema versions --
new columns appear, old shards lack them. Spark's parquet reader handles
this with ``mergeSchema=true``: the unified schema is the union of all
shard schemas and missing columns surface as NULL. This module materializes
exactly that situation deterministically from the documents table (shard A
= even doc_ids under the v1 schema without ``n_chars``/``source``; shard B
= odd doc_ids under the full v2 schema), reads it back merged, and reports
a per-lang fidelity aggregate. The oracle recomputes the expected report
straight from the base table (v1 rows contribute NULL n_chars), so any
merge/NULL-materialization drift breaks the hash.

Scale notes: schema merging is a FOOTER-level operation (Spark samples
shard footers at planning time); the data scan itself stays one narrow
pass with pushdown intact, and the NULL fill for absent columns is free at
decode time. At 100 TB the practice this pins: never rewrite old shards on
schema change -- additive evolution + mergeSchema, with reconciliation
queries shaped like this report.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import _memo
from .artifacts import scratch_dir
from .tables import load_table

@_memo.per_app
def evolved_documents_dir(spark: SparkSession, sf_dir: str) -> str:
    """Write the two schema generations once per (application, sf_dir)."""
    out = scratch_dir("docs-evo-")
    docs = load_table(spark, sf_dir, "documents")
    v1 = docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang", "text")
    v2 = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "lang", "text", "source", "n_chars"
    )
    v1.write.mode("overwrite").parquet(os.path.join(out, "gen=v1"))
    v2.write.mode("overwrite").parquet(os.path.join(out, "gen=v2"))
    return out


def schema_evolution_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged read over both schema generations -> per-lang report:
    row count, rows missing the late-added column (all of v1), and the
    n_chars total over the rows that carry it (all of v2)."""
    root = evolved_documents_dir(spark, sf_dir)
    merged = (
        spark.read.option("mergeSchema", "true")
        .option("basePath", root)
        .parquet(os.path.join(root, "gen=v1"), os.path.join(root, "gen=v2"))
    )
    return (
        merged.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_chars").isNull().cast("long")).alias("n_missing_chars"),
            F.sum(F.coalesce(F.col("n_chars"), F.lit(0)).cast("long")).alias(
                "known_chars"
            ),
            F.sum(F.length("text").cast("long")).alias("total_text_len"),
        )
        .orderBy("lang")
    )


def schema_evolution_stats_oracle() -> str:
    # the oracle re-derives the expected merged view from the base table:
    # even doc_ids were written under v1 (no n_chars column -> NULL)
    return """
SELECT lang, count(*) AS n_docs,
       sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_missing_chars,
       sum(CASE WHEN doc_id % 2 = 1 THEN n_chars ELSE 0 END)::BIGINT AS known_chars,
       sum(length(text))::BIGINT AS total_text_len
FROM documents
GROUP BY lang
ORDER BY lang
""".strip()
