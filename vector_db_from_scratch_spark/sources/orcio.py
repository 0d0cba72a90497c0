"""ORC source/sink round-trip for the documents corpus.

Third leg of the interchange matrix (parquet native, JSONL, CSV): ORC is
the other columnar container a lake ingests from (Hive/Trino heritage),
supported by Spark natively (``spark.read.orc``). DuckDB cannot read ORC,
so the gate works the same way as the CSV/JSONL legs: write ORC shards,
read them back, aggregate -- the oracle runs the identical aggregate over
the original parquet, so any fidelity loss in the columnar round-trip
(encoding, nulls, unicode) breaks the hash.

Scale notes: ORC shards are stripe-splittable like parquet row groups; the
write is one narrow scan with no shuffle, and predicate pushdown into ORC
scans works the same way Catalyst pushes into parquet (both tested paths
go through DataSource V1 file scans).
"""

from __future__ import annotations

from .artifacts import scratch_dir

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import _memo
from .tables import load_table

@_memo.per_app
def documents_orc_dir(spark: SparkSession, sf_dir: str) -> str:
    """Write documents as ORC shards once per (application, sf_dir)."""
    out = scratch_dir("docs-orc-")
    (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite")
        .orc(out)
    )
    return out


def orc_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parquet -> ORC -> read-back -> per-lang aggregate (hash-gated against
    the original parquet via the oracle)."""
    docs = spark.read.orc(documents_orc_dir(spark, sf_dir))
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(F.length("text")).alias("total_text_len"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("lang")
    )


def orc_roundtrip_stats_oracle() -> str:
    return """
SELECT lang, count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars,
       sum(length(text))::BIGINT AS total_text_len,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM documents
GROUP BY lang
ORDER BY lang
""".strip()


def multi_format_union_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Federated-source shape: the same corpus materialized as parquet,
    ORC, and CSV shards read back through their three readers and unioned
    into ONE logical DataFrame with a format lineage column -- the
    heterogeneous-shard ingestion every real lake does (migrations leave
    mixed formats behind). Per-(format, lang) counts are hash-gated: any
    reader-level fidelity drift (quoting, encoding, nulls) in any leg
    breaks the union's counts against the oracle's 3x replication of the
    parquet truth."""
    from .csvio import documents_csv_dir, read_documents_csv
    from .tables import load_table

    pq = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    orc = spark.read.orc(documents_orc_dir(spark, sf_dir)).select(
        "doc_id", "lang", "n_chars"
    )
    csv = read_documents_csv(spark, documents_csv_dir(spark, sf_dir)).select(
        "doc_id", "lang", "n_chars"
    )
    unioned = (
        pq.withColumn("fmt", F.lit("parquet"))
        .unionByName(orc.withColumn("fmt", F.lit("orc")))
        .unionByName(csv.withColumn("fmt", F.lit("csv")))
    )
    return (
        unioned.groupBy("fmt", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("fmt", "lang")
    )


def multi_format_union_stats_oracle() -> str:
    return """
WITH fmts AS (SELECT unnest(['csv', 'orc', 'parquet']) AS fmt)
SELECT fmt, lang, count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars,
       min(doc_id) AS first_doc
FROM documents, fmts
GROUP BY fmt, lang
ORDER BY fmt, lang
""".strip()
