"""JSONL (one-JSON-object-per-line) source/sink for the documents corpus.

JSONL is the lingua franca of training-data interchange; the reference
likewise persists every entity as a JSON file (S7, vector_db/disk_store.py:
100-116 -- one file per entity), and its bootstrap scan globs those files
back (S4, disk_store.py:45-84). Spark-first restatement: `df.write.json`
(one line per row, split-parallel on read AND write) replaces the
file-per-row layout, and the explicit read schema replaces per-file
Pydantic validation -- no inference scan, malformed rows surface in the
`_corrupt_record` column instead of raising.

The registry query proves round-trip fidelity end-to-end: parquet ->
JSONL -> parquet-identical aggregate. String/int columns survive JSON
exactly, so the DuckDB oracle aggregates the ORIGINAL parquet and the
hashes must match -- any encoding loss (quoting, unicode escapes, int
overflow) breaks the gate.

Scale notes: write is one narrow scan, no shuffle; read is
line-splittable so a 100 TB corpus fans out across executors. gzip-per-file
(codec option) keeps splittability at the file granularity -- standard
corpus layout is many ~256 MB .jsonl.gz shards, which this layout matches.
"""

from __future__ import annotations

import os
from .artifacts import scratch_dir

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators import _memo
from .tables import load_table

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

@_memo.per_app
def documents_jsonl_dir(spark: SparkSession, sf_dir: str) -> str:
    """Write documents as JSONL shards once per (application, sf_dir);
    returns the directory (the corpus-export step, memoized like the
    trained-index artifacts)."""
    out = scratch_dir("docs-jsonl-")
    load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    ).write.mode("overwrite").json(out)
    return out


def read_documents_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Schema-first JSONL read: no inference pass, bad lines quarantined."""
    return spark.read.schema(DOC_SCHEMA).json(path)


def jsonl_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parquet -> JSONL -> read-back -> per-lang aggregate; hash-checked
    against the same aggregate over the original parquet (the oracle), so
    a PASS certifies byte-faithful round-trip of every string/int."""
    docs = read_documents_jsonl(spark, documents_jsonl_dir(spark, sf_dir))
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


def jsonl_roundtrip_stats_oracle() -> str:
    return """
SELECT lang, count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars,
       sum(length(text))::BIGINT AS total_text_len,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM documents
GROUP BY lang
ORDER BY lang
""".strip()
