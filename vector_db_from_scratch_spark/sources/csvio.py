"""CSV source/sink round-trip for the documents corpus.

Completes the interchange-format matrix next to parquet (sources/tables.py)
and JSONL (sources/jsonl.py). CSV is the hostile case: free text contains
the delimiter, so fidelity depends on quoting/escaping being symmetric
between write and read -- exactly what the hash-gated round-trip certifies.
Schema-first read (no inference pass), explicit quote/escape options pinned
rather than defaulted so the layout is stable across Spark versions.

Scale notes: like JSONL, CSV shards are line-splittable; the write is one
narrow scan with no shuffle. Quoted newlines would break splittability
(multiLine mode forces one-file-per-task), so text columns here are
newline-free by corpus construction -- the docstring constraint a real
pipeline enforces at ingest.
"""

from __future__ import annotations

from .artifacts import scratch_dir

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import _memo
from .jsonl import DOC_SCHEMA
from .tables import load_table

_OPTS = {"header": "true", "quote": '"', "escape": '"', "nullValue": "\\N"}


@_memo.per_app
def documents_csv_dir(spark: SparkSession, sf_dir: str) -> str:
    """Write documents as CSV shards once per (application, sf_dir)."""
    out = scratch_dir("docs-csv-")
    (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite")
        .options(**_OPTS)
        .csv(out)
    )
    return out


def read_documents_csv(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(DOC_SCHEMA).options(**_OPTS).csv(path)


def csv_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parquet -> CSV -> read-back -> per-source aggregate; the oracle runs
    the same aggregate over the original parquet, so quoting/escape loss
    breaks the hash."""
    docs = read_documents_csv(spark, documents_csv_dir(spark, sf_dir))
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(F.length("text")).alias("total_text_len"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("source")
    )


def csv_roundtrip_stats_oracle() -> str:
    return """
SELECT source, count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars,
       sum(length(text))::BIGINT AS total_text_len,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM documents
GROUP BY source
ORDER BY source
""".strip()


# --------------------------------------------------------------------------
# Partitioned sink + partition-pruned scan: the O4-analog access path for
# plain parquet -- writing partitionBy(lang) turns a language filter into
# directory pruning (PartitionFilters), the same mechanism the LSH index
# table uses for bucket probes.
# --------------------------------------------------------------------------

PRUNE_LANGS = ("en", "de")


@_memo.per_app
def documents_partitioned_dir(spark: SparkSession, sf_dir: str) -> str:
    """Write documents partitioned by lang once per (application, sf_dir)."""
    out = scratch_dir("docs-bylang-")
    from .artifacts import write_partitioned

    write_partitioned(load_table(spark, sf_dir, "documents"), out, "lang")
    return out


def partition_pruned_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate over two languages of the lang-partitioned layout; the
    filter resolves at planning time to directory pruning -- only 2 of the
    5 partitions are ever opened (tests assert PartitionFilters in the
    plan). The oracle applies the same predicate to the flat table."""
    docs = spark.read.parquet(documents_partitioned_dir(spark, sf_dir))
    return (
        docs.filter(F.col("lang").isin(*PRUNE_LANGS))
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("total_chars"))
        .orderBy("lang", "source")
    )


def partition_pruned_stats_oracle() -> str:
    langs = ", ".join(f"'{lang}'" for lang in PRUNE_LANGS)
    return f"""
SELECT lang, source, count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars
FROM documents
WHERE lang IN ({langs})
GROUP BY lang, source
ORDER BY lang, source
""".strip()
