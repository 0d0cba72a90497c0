"""Composed training-corpus preparation pipeline: the end-to-end "clean a
raw document dump for LLM training" query that chains the engine's text /
dedup primitives into one declarative plan.

Stages (each a named building block elsewhere in the engine):
  1. quality gate    -- token count + mean token length bounds
                        (language-agnostic; operators/textops.py signals)
  2. language gate   -- keep an allow-listed language set
  3. exact dedup     -- keep min(doc_id) per md5(text)
                        (operators/dedup.py:exact_dedup discipline)
  4. near-dup drop   -- n-gram Jaccard pairs over the SHARED shingle index;
                        a doc is dropped if it is the higher id (d2) of any
                        pair whose BOTH endpoints survived stages 1-3
                        (keep-first rule; deterministic and one-shot, no
                        iterative connected components)

Scale notes: the shingle index is built over the RAW corpus (memoized /
persisted -- at 100 TB it is the materialized index table shared by every
pipeline variant and the standalone dedup queries), so re-running the
pipeline with different gates never rebuilds it. All gates are predicates
on scan columns (pushed down); the only shuffles are the dedup groupBys
and the pair self-join, both over hashed ints. The keep-first rule is the
standard single-pass form of MinHash-dedup pipelines (transitive chains
collapse to their minimum id only after the id ordering is fixed, which
md5-grouping + min() already guarantees for exact dups).

Reference parity: the reference has no pipeline surface (its API is CRUD +
search, vector_db/api.py:226-384); this composition is a north-star
extension over the same documents table the driver provides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as T
from ..functions.text import token_count_sql
from ..sources.tables import load_table
from .dedup import ngram_jaccard_pairs_dfcap, ngram_jaccard_pairs_dfcap_oracle

QUALITY_MIN_TOKENS = 6
QUALITY_TOKEN_LEN = (2.0, 12.0)
ALLOWED_LANGS = ("de", "en", "es", "fr")
NEAR_DUP_THRESHOLD = 0.3


def _corpus_stages(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """The pipeline's stage DataFrames (docs → gated → survivors → clean),
    shared by the per-language report and the funnel observability query."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = T.token_count(F.col("text"))
    avg_len = F.length("text").cast("double") / n_tok.cast("double")
    gated = docs.filter(
        (n_tok >= QUALITY_MIN_TOKENS)
        & (avg_len >= QUALITY_TOKEN_LEN[0])
        & (avg_len <= QUALITY_TOKEN_LEN[1])
        & F.col("lang").isin(*ALLOWED_LANGS)
    ).select("doc_id", "lang", "text", n_tok.alias("n_tok"))

    # exact dedup: survivors carry the min doc_id of their text group
    exact = gated.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    survivors = gated.join(exact.select("doc_id"), "doc_id", "left_semi")

    # near-dup drop over the shared raw-corpus shingle index: drop d2 of
    # every pair whose both endpoints survived stages 1-3
    pairs = ngram_jaccard_pairs_dfcap(spark, sf_dir, NEAR_DUP_THRESHOLD)
    surv_ids = survivors.select("doc_id")
    drops = (
        pairs.join(surv_ids.withColumnRenamed("doc_id", "d1"), "d1", "left_semi")
        .join(surv_ids.withColumnRenamed("doc_id", "d2"), "d2", "left_semi")
        .select(F.col("d2").alias("doc_id"))
        .distinct()
    )
    clean = survivors.join(drops, "doc_id", "left_anti")
    return {"docs": docs, "gated": gated, "survivors": survivors, "clean": clean}


def corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    clean = _corpus_stages(spark, sf_dir)["clean"]

    return (
        clean.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_tok").cast("long")).alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("lang")
    )


def _corpus_prep_ctes() -> str:
    """CTE body shared by the per-language report and the funnel query."""
    nt = token_count_sql("text")
    langs = ", ".join(f"'{l}'" for l in ALLOWED_LANGS)
    pairs_sql = ngram_jaccard_pairs_dfcap_oracle(NEAR_DUP_THRESHOLD)
    return f"""gated AS (
  SELECT doc_id, lang, text, {nt}::BIGINT AS n_tok
  FROM documents
  WHERE {nt} >= {QUALITY_MIN_TOKENS}
    AND (length(text)::DOUBLE / {nt}::DOUBLE) >= {QUALITY_TOKEN_LEN[0]}
    AND (length(text)::DOUBLE / {nt}::DOUBLE) <= {QUALITY_TOKEN_LEN[1]}
    AND lang IN ({langs})),
exact AS (SELECT min(doc_id) AS doc_id FROM gated GROUP BY md5(text)),
survivors AS (SELECT g.* FROM gated g JOIN exact USING (doc_id)),
pairs AS (SELECT * FROM ({pairs_sql})),
drops AS (SELECT DISTINCT p.d2 AS doc_id
          FROM pairs p
          JOIN survivors s1 ON p.d1 = s1.doc_id
          JOIN survivors s2 ON p.d2 = s2.doc_id),
clean AS (SELECT * FROM survivors
          WHERE doc_id NOT IN (SELECT doc_id FROM drops))"""


def corpus_prep_oracle() -> str:
    return f"""
WITH {_corpus_prep_ctes()}
SELECT lang, count(*) AS n_docs, sum(n_tok)::BIGINT AS total_tokens,
       min(doc_id) AS first_doc
FROM clean
GROUP BY lang
ORDER BY lang
""".strip()


def corpus_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline observability: how many documents survive each stage
    (raw → quality+language gate → exact dedup → near-dup drop). One row of
    counts -- the numbers a 100 TB data-curation run reports per shard; each
    stage count is a count-only aggregate over the shared stage plans, so
    the funnel costs four scans of pruned columns and no extra shuffles."""
    st = _corpus_stages(spark, sf_dir)
    counts = [
        st["docs"].agg(F.count(F.lit(1)).alias("n_raw")),
        st["gated"].agg(F.count(F.lit(1)).alias("n_quality_lang")),
        st["survivors"].agg(F.count(F.lit(1)).alias("n_after_exact")),
        st["clean"].agg(F.count(F.lit(1)).alias("n_clean")),
    ]
    out = counts[0]
    for c in counts[1:]:
        out = out.crossJoin(c)
    return out


def corpus_funnel_report_oracle() -> str:
    return f"""
WITH {_corpus_prep_ctes()}
SELECT (SELECT count(*) FROM documents) AS n_raw,
       (SELECT count(*) FROM gated) AS n_quality_lang,
       (SELECT count(*) FROM survivors) AS n_after_exact,
       (SELECT count(*) FROM clean) AS n_clean
""".strip()


# --------------------------------------------------------------------------
# Deterministic sampling / dataset splits: hash-range assignment instead of
# RNG. sample(fraction) is irreproducible across engines, partitionings and
# reruns; bucketing md5(doc_id) is stable under repartition, backfill and
# engine swap -- the only splitting discipline that survives a 100 TB
# pipeline rebuild (and it needs no shuffle: the split is a scan-side
# projection).
# --------------------------------------------------------------------------

SPLIT_BUCKETS = 100
SPLIT_BOUNDS = (80, 90)  # [0,80) train, [80,90) val, [90,100) test


def _split_bucket(c):
    from ..functions.hashing import hash60

    return hash60(c.cast("string")) % SPLIT_BUCKETS


def corpus_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = _split_bucket(F.col("doc_id"))
    split = (
        F.when(bucket < SPLIT_BOUNDS[0], "train")
        .when(bucket < SPLIT_BOUNDS[1], "val")
        .otherwise("test")
    )
    n_tok = T.token_count(F.col("text"))
    return (
        docs.select(split.alias("split"), "lang", n_tok.alias("n_tok"))
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_tok").cast("long")).alias("total_tokens"),
        )
        .orderBy("split", "lang")
    )


def corpus_sample_split_oracle() -> str:
    from ..functions.hashing import hash60_sql

    nt = token_count_sql("text")
    b = f"({hash60_sql('doc_id::VARCHAR')} % {SPLIT_BUCKETS})"
    return f"""
SELECT CASE WHEN {b} < {SPLIT_BOUNDS[0]} THEN 'train'
            WHEN {b} < {SPLIT_BOUNDS[1]} THEN 'val'
            ELSE 'test' END AS split,
       lang, count(*) AS n_docs, sum({nt}::BIGINT)::BIGINT AS total_tokens
FROM documents
GROUP BY 1, 2
ORDER BY split, lang
""".strip()


# --------------------------------------------------------------------------
# Stratified hash sampling: per-stratum keep rates (e.g. downsample
# over-represented languages) with the same md5-bucket determinism as the
# split -- the up/down-weighting step of corpus mixing, reproducible under
# repartition and engine swap. Rates are percentages of SPLIT_BUCKETS.
# --------------------------------------------------------------------------

STRATUM_RATES = {"en": 100, "de": 50, "es": 50, "fr": 25, "zh": 25}
DEFAULT_RATE = 10


def corpus_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = _split_bucket(F.col("doc_id"))
    rate = F.lit(DEFAULT_RATE)
    for lang, pct in sorted(STRATUM_RATES.items()):
        rate = F.when(F.col("lang") == lang, F.lit(pct)).otherwise(rate)
    n_tok = T.token_count(F.col("text"))
    return (
        docs.filter(bucket < rate)
        .select("lang", n_tok.alias("n_tok"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum(F.col("n_tok").cast("long")).alias("kept_tokens"),
        )
        .orderBy("lang")
    )


def corpus_stratified_sample_oracle() -> str:
    from ..functions.hashing import hash60_sql

    nt = token_count_sql("text")
    b = f"({hash60_sql('doc_id::VARCHAR')} % {SPLIT_BUCKETS})"
    whens = "\n            ".join(
        f"WHEN lang = '{lang}' THEN {pct}"
        for lang, pct in sorted(STRATUM_RATES.items())
    )
    return f"""
SELECT lang, count(*) AS n_kept, sum({nt}::BIGINT)::BIGINT AS kept_tokens
FROM documents
WHERE {b} < (CASE {whens} ELSE {DEFAULT_RATE} END)
GROUP BY lang
ORDER BY lang
""".strip()


# --------------------------------------------------------------------------
# Deterministic fixed-size per-group sample: exactly K documents per
# (lang, source) stratum, chosen by smallest portable hash -- the
# distributed, reproducible analog of per-group reservoir sampling
# (inspection samples, eval-set carve-outs, per-source spot checks).
# Unlike rate-based sampling (corpus_stratified_sample) the output size is
# exact per group. At 100 TB the window would be preceded by a cheap
# hash-range pre-filter (keep bucket < ~2K/|group| * SPLIT_BUCKETS) so the
# rank never scans a full giant stratum; group count bounds parallelism
# either way, and the hash order makes the sample stable under
# repartitioning, backfills, and engine swap.
# --------------------------------------------------------------------------

GROUP_SAMPLE_K = 3


def corpus_group_sample(
    spark: SparkSession, sf_dir: str, k: int = GROUP_SAMPLE_K
) -> DataFrame:
    from pyspark.sql import Window
    from ..functions.hashing import hash60

    docs = load_table(spark, sf_dir, "documents")
    h = hash60(F.col("doc_id").cast("string"))
    w = Window.partitionBy("lang", "source").orderBy(h, "doc_id")
    return (
        docs.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("lang", "source", "rank", "doc_id")
        .orderBy("lang", "source", "rank")
    )


def corpus_group_sample_oracle(k: int = GROUP_SAMPLE_K) -> str:
    from ..functions.hashing import hash60_sql

    h = hash60_sql("doc_id::VARCHAR")
    return f"""
WITH ranked AS (
  SELECT lang, source, doc_id,
         row_number() OVER (PARTITION BY lang, source
                            ORDER BY {h}, doc_id) AS rank
  FROM documents)
SELECT lang, source, rank, doc_id
FROM ranked WHERE rank <= {k}
ORDER BY lang, source, rank
""".strip()


# --------------------------------------------------------------------------
# Benchmark decontamination: drop/flag training documents that share n-grams
# with a held-out evaluation set (the GPT-3 / Dolma discipline -- n-gram
# overlap against benchmarks, not similarity). The "benchmark" here is a
# deterministic doc_id slice of the same corpus so the driver tables
# suffice; in production it is the eval suites' text.
# --------------------------------------------------------------------------

BENCH_MOD = 17  # doc_id % BENCH_MOD == 0 -> benchmark member (~6% of corpus)


def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training docs contaminated by shingle overlap with the benchmark set.

    Reuses the memoized 3-gram shingle index (operators/dedup.py): the
    benchmark's distinct shingle set is tiny relative to the corpus (eval
    suites are MBs, corpora are TBs), so at 100 TB it broadcasts and the
    contamination check is a map-side semi-join on the training scan -- no
    wide shuffle at all. Returns (doc_id, n_overlap) per contaminated
    training doc: the count of distinct shingles it shares with ANY
    benchmark doc (the shingle index is distinct per doc by construction).
    """
    from .dedup import _shingle_index

    sh = _shingle_index(spark, sf_dir)
    bench = (
        sh.filter(F.col("doc_id") % BENCH_MOD == 0).select("sh").distinct()
    )
    train = sh.filter(F.col("doc_id") % BENCH_MOD != 0)
    return (
        train.join(F.broadcast(bench), "sh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .orderBy("doc_id")
    )


def corpus_decontaminate_oracle() -> str:
    from .dedup import _shingle_index_sql

    return f"""
WITH {_shingle_index_sql()},
bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % {BENCH_MOD} = 0)
SELECT s.doc_id, count(*) AS n_overlap
FROM sh s JOIN bench USING (sh)
WHERE s.doc_id % {BENCH_MOD} <> 0
GROUP BY s.doc_id
ORDER BY doc_id
""".strip()


# --------------------------------------------------------------------------
# Sequence packing: concatenate-and-chop docs into fixed token-context
# windows (the standard pretraining batch-prep step). A doc's window is the
# one its first token lands in under a greedy sequential fill.
# --------------------------------------------------------------------------

CTX_TOKENS = 256


def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-context-window packing stats from a greedy sequential fill.

    Docs are laid out in (lang, doc_id) order; the running token prefix-sum
    assigns each doc the window floor(tokens_before / CTX) its first token
    occupies; output is per-(lang, window) fill statistics. Scale note: the
    window function partitions by lang, and a whole language in one
    partition is exactly the 100 TB hazard -- the production form adds a
    deterministic range-bucket key (e.g. doc_id DIV bucket_span) to the
    partition so packing is bucket-local and embarrassingly parallel;
    packing quality is unaffected because windows never need to cross
    bucket boundaries (each bucket starts a fresh window). The lang-only
    form here keeps the oracle simple and exercises the same plan shape.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    n_tok = T.token_count(F.col("text")).cast("long")
    w = Window.partitionBy("lang").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    with_bin = (
        docs.select("doc_id", "lang", n_tok.alias("n_tok"))
        .withColumn("cum", F.sum("n_tok").over(w))
        .withColumn("bin", F.expr(f"(cum - n_tok) DIV {CTX_TOKENS}"))
    )
    return (
        with_bin.groupBy("lang", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("bin_tokens"),
        )
        .orderBy("lang", "bin")
    )


def corpus_pack_sequences_oracle() -> str:
    nt = token_count_sql("text")
    return f"""
WITH d AS (SELECT doc_id, lang, {nt}::BIGINT AS n_tok FROM documents),
c AS (SELECT doc_id, lang, n_tok,
             sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
      FROM d)
SELECT lang, ((cum - n_tok) // {CTX_TOKENS})::BIGINT AS bin,
       count(*) AS n_docs, sum(n_tok)::BIGINT AS bin_tokens
FROM c GROUP BY lang, bin ORDER BY lang, bin
""".strip()


# --------------------------------------------------------------------------
# Document chunking: the reference's core data model is library -> document
# -> CHUNK (vector_db/entities.py; chunk text capped at 10,000 chars,
# entities.py:42). This operator materializes that layer from the documents
# table: fixed-size character windows with overlap, deterministic chunk ids,
# one narrow generate+substring map -- no shuffle, embarrassingly parallel
# at any corpus size (output rows ~ total_chars / stride).
# --------------------------------------------------------------------------

CHUNK_SIZE = 200
CHUNK_STRIDE = 150  # 50-char overlap between consecutive chunks


def corpus_chunk_documents(
    spark: SparkSession, sf_dir: str, size: int = CHUNK_SIZE, stride: int = CHUNK_STRIDE
) -> DataFrame:
    """(chunk_id, doc_id, chunk_idx, chunk_text, chunk_len) -- overlapping
    character-window chunks. chunk_id = doc_id * 10^6 + idx is unique while
    docs stay under 10^6 chunks (150 GB of text per doc at this stride --
    enforce with a validation count at ingest, like F6's dim check)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    starts = F.sequence(
        F.lit(0), F.greatest(F.length("text") - 1, F.lit(0)), F.lit(stride)
    )
    exploded = docs.select(
        "doc_id", "text", F.posexplode(starts).alias("idx", "start")
    )
    return exploded.select(
        (F.col("doc_id") * 1_000_000 + F.col("idx")).alias("chunk_id"),
        "doc_id",
        F.col("idx").cast("long").alias("chunk_idx"),
        F.substring(F.col("text"), F.col("start") + 1, F.lit(size)).alias("chunk_text"),
        F.length(F.substring(F.col("text"), F.col("start") + 1, F.lit(size)))
        .cast("long")
        .alias("chunk_len"),
    ).orderBy("chunk_id")


def corpus_chunk_documents_oracle(
    size: int = CHUNK_SIZE, stride: int = CHUNK_STRIDE
) -> str:
    return f"""
WITH starts AS (
  SELECT doc_id, text,
         unnest(generate_series(0, greatest(length(text) - 1, 0), {stride})) AS start
  FROM documents
)
SELECT doc_id * 1000000 + (start // {stride}) AS chunk_id,
       doc_id,
       (start // {stride})::BIGINT AS chunk_idx,
       substr(text, start + 1, {size}) AS chunk_text,
       length(substr(text, start + 1, {size}))::BIGINT AS chunk_len
FROM starts
ORDER BY chunk_id
""".strip()


# --------------------------------------------------------------------------
# Data-mixing schedule: allocate a token budget across sources by weight
# (the Pile/Dolma-style corpus mixing step). Weights here are a
# deterministic function of the source index (stand-in for the curated
# per-domain weights of a production mix); the schedule solves
# keep_rate_s = min(1, budget * w_s / sum(w) / tokens_s) -- i.e. how much
# of each source to sample so the weighted mix fits the budget. One
# aggregation by source; every derived number is integer arithmetic
# followed by identical IEEE divisions in both engines.
# --------------------------------------------------------------------------

MIX_BUDGET_FRACTION = 2  # budget = total_tokens // 2


def corpus_mix_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_tok = T.token_count(F.col("text"))
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_tok.cast("long")).alias("tokens"),
    )
    w = (F.regexp_extract("source", "[0-9]+", 0).cast("long") % 4) + 1
    weighted = per_src.withColumn("weight", w)
    totals = weighted.agg(
        (F.sum("tokens") / F.lit(MIX_BUDGET_FRACTION)).cast("long").alias("budget"),
        F.sum("weight").alias("sum_w"),
    )
    alloc = (
        F.col("budget").cast("double")
        * F.col("weight").cast("double")
        / F.col("sum_w").cast("double")
    )
    keep = F.least(F.lit(1.0), alloc / F.col("tokens").cast("double"))
    return (
        weighted.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "n_docs",
            "tokens",
            "weight",
            keep.alias("keep_rate"),
            F.round(keep * F.col("tokens").cast("double")).cast("long").alias("kept_tokens"),
        )
        .orderBy("source")
    )


def corpus_mix_schedule_oracle() -> str:
    nt = token_count_sql("text")
    return f"""
WITH per_src AS (
  SELECT source, count(*) AS n_docs, sum({nt}::BIGINT)::BIGINT AS tokens,
         (regexp_extract(source, '[0-9]+')::BIGINT % 4) + 1 AS weight
  FROM documents GROUP BY source),
tot AS (SELECT (sum(tokens) // {MIX_BUDGET_FRACTION})::BIGINT AS budget,
               sum(weight)::BIGINT AS sum_w
        FROM per_src)
SELECT source, n_docs, tokens, weight,
       least(1.0, budget::DOUBLE * weight::DOUBLE / sum_w::DOUBLE
                  / tokens::DOUBLE) AS keep_rate,
       round(least(1.0, budget::DOUBLE * weight::DOUBLE / sum_w::DOUBLE
                  / tokens::DOUBLE) * tokens::DOUBLE)::BIGINT AS kept_tokens
FROM per_src, tot
ORDER BY source
""".strip()


# --------------------------------------------------------------------------
# Temperature-flattened language mixing (alpha = 0.5): sampling share
# proportional to tokens^alpha -- the multilingual re-balancing rule
# (XLM-R / mT5 style): high-resource languages down-weighted, low-resource
# up-weighted. alpha = 0.5 keeps the power at exactly sqrt(), which
# IEEE-754 rounds correctly in both engines; the weight is then frozen to
# an integral micro-unit BIGINT so the share denominator is an order-free
# exact integer sum, and the token allocation is exact BIGINT arithmetic
# (same determinism discipline as the micro-unit revenue sums).
# --------------------------------------------------------------------------

TEMPERATURE_BUDGET = 100_000


def corpus_temperature_mix(
    spark: SparkSession, sf_dir: str, budget_tokens: int = TEMPERATURE_BUDGET
) -> DataFrame:
    """(lang, n_docs, tokens, w_micro, share, alloc_tokens): per-language
    temperature-weighted token allocation out of ``budget_tokens``."""
    from ..functions.vector import normalize_float

    docs = load_table(spark, sf_dir, "documents")
    n_tok = T.token_count(F.col("text"))
    per_lang = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_tok.cast("long")).alias("tokens"),
    )
    w_micro = F.round(F.sqrt(F.col("tokens").cast("double")) * F.lit(1_000_000.0)).cast("long")
    weighted = per_lang.withColumn("w_micro", w_micro)
    totals = weighted.agg(F.sum("w_micro").alias("sum_w"))
    share = normalize_float(
        F.col("w_micro").cast("double") / F.col("sum_w").cast("double"), 6
    )
    # exact BIGINT floor division (`div`), never a double /+floor -- a
    # double quotient a hair under an integer can round UP to it and
    # misfloor (the DuckDB twin's `//` on BIGINTs is exact too)
    alloc = F.expr(f"(CAST({budget_tokens} AS BIGINT) * w_micro) div sum_w")
    return (
        weighted.crossJoin(F.broadcast(totals))
        .select(
            "lang",
            "n_docs",
            "tokens",
            "w_micro",
            share.alias("share"),
            alloc.cast("long").alias("alloc_tokens"),
        )
        .orderBy("lang")
    )


def corpus_temperature_mix_oracle(budget_tokens: int = TEMPERATURE_BUDGET) -> str:
    nt = token_count_sql("text")
    return f"""
WITH per_lang AS (
  SELECT lang, count(*) AS n_docs, sum({nt}::BIGINT)::BIGINT AS tokens
  FROM documents GROUP BY lang),
w AS (SELECT lang, n_docs, tokens,
             round(sqrt(tokens::DOUBLE) * 1000000.0)::BIGINT AS w_micro
      FROM per_lang),
tot AS (SELECT sum(w_micro)::BIGINT AS sum_w FROM w)
SELECT lang, n_docs, tokens, w_micro,
       (round(w_micro::DOUBLE / sum_w::DOUBLE, 6) + 0.0) AS share,
       (({budget_tokens}::BIGINT * w_micro) // sum_w)::BIGINT AS alloc_tokens
FROM w, tot
ORDER BY lang
""".strip()


# --------------------------------------------------------------------------
# Deterministic WEIGHTED per-group sampling: K documents per language,
# chosen by priority = hash(doc_id) / weight -- heavier documents draw
# proportionally smaller priorities, so inclusion odds grow with weight
# while the draw stays a pure function of (doc_id, weight). This is the
# transcendental-free cousin of A-ES weighted reservoir sampling
# (Efraimidis & Spirakis 2006 use u^(1/w); ranking by u/w keeps the same
# weight monotonicity but needs only one IEEE double division, which is
# correctly rounded and therefore bit-identical across engines -- no
# ln/pow portability budget).
#
# Scale: priority is computable per row at scan time with zero shuffles;
# per-group top-K by (priority, id) is a mergeable aggregation (partial
# top-K per partition, then top-K of the union), so at 100 TB this is a
# TakeOrdered-shaped pass, never a global sort. The window form below is
# the small-SF gate shape; the hash-range pre-filter documented on
# corpus_group_sample applies verbatim (priority <= ~K/|group| quantile
# bound prunes before ranking).
# --------------------------------------------------------------------------

WEIGHTED_SAMPLE_K = 4


def corpus_weighted_sample(
    spark: SparkSession, sf_dir: str, k: int = WEIGHTED_SAMPLE_K
) -> DataFrame:
    """(lang, rank, doc_id, weight, priority): the K per-language documents
    with the smallest hash/weight priority; weight = n_chars (document
    length as the mixing weight -- longer docs carry more tokens)."""
    from pyspark.sql import Window
    from ..functions.hashing import hash60

    docs = load_table(spark, sf_dir, "documents")
    weight = F.greatest(F.col("n_chars"), F.lit(1)).cast("long")
    # u in [0, 1): the hash mapped into the unit interval BEFORE dividing
    # by the weight -- keeps priority at <=1 magnitude where the round-6dp
    # display contract is portable (at 1e13 magnitude Spark's BigDecimal
    # HALF_UP and DuckDB's multiply-round-divide disagree in the last ulp)
    u = hash60(F.col("doc_id").cast("string")).cast("double") / F.lit(float(1 << 60))
    priority = u / weight.cast("double")
    w = Window.partitionBy("lang").orderBy(priority, "doc_id")
    return (
        docs.withColumn("weight", weight)
        .withColumn("priority", priority)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            "lang",
            "rank",
            "doc_id",
            "weight",
            (F.round("priority", 6) + F.lit(0.0)).alias("priority"),
        )
        .orderBy("lang", "rank")
    )


def corpus_weighted_sample_oracle(k: int = WEIGHTED_SAMPLE_K) -> str:
    from ..functions.hashing import hash60_sql

    h = hash60_sql("doc_id::VARCHAR")
    return f"""
WITH scored AS (
  SELECT lang, doc_id, greatest(n_chars, 1)::BIGINT AS weight,
         ({h}::DOUBLE / {float(1 << 60)!r}) / greatest(n_chars, 1)::DOUBLE AS priority
  FROM documents),
ranked AS (
  SELECT lang, doc_id, weight, priority,
         row_number() OVER (PARTITION BY lang
                            ORDER BY priority, doc_id) AS rank
  FROM scored)
SELECT lang, rank::BIGINT AS rank, doc_id, weight,
       (round(priority, 6) + 0.0) AS priority
FROM ranked WHERE rank <= {k}
ORDER BY lang, rank
""".strip()


# --------------------------------------------------------------------------
# Leakage-safe split: near-dup CLUSTERS assigned to splits atomically.
# Hash-bucketing doc_id sends two near-duplicates to different splits with
# probability ~2 p(1-p) per pair -- test-set contamination by construction.
# The fix every serious training pipeline runs: key the split on the dedup
# cluster representative, so a cluster can never straddle a boundary. The
# gate emits per-split stats plus BOTH audits side by side: violations
# under the cluster-keyed split (provably 0) and under the naive doc-keyed
# split (the leak it prevents).
# --------------------------------------------------------------------------


def leakage_safe_split(
    spark: SparkSession, sf_dir: str, threshold: float = 0.3
) -> DataFrame:
    """(split, n_docs, n_clusters, safe_violations, naive_violations):
    documents split train/val/test by md5-bucketing their near-dup
    cluster rep (MinHash-LSH pairs -> connected components; singletons
    rep themselves), with the straddling-pair counts of the cluster-keyed
    and doc-keyed assignments appended to every row.

    Scale: the pair graph and labels are the memoized dedup artifacts
    (banded candidates, never all-pairs); the split itself is a scan-side
    projection of the label table -- one broadcast-sized join on top of
    what the dedup job already computed."""
    from .dedup import _clusters_cached, minhash_lsh_pairs

    pairs = minhash_lsh_pairs(spark, sf_dir, threshold).select("d1", "d2")
    labels = _clusters_cached(spark, sf_dir, threshold, "minhash").select(
        F.col("node").alias("doc_id"), "cluster_rep"
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    clusters = docs.join(labels, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_rep", "doc_id").alias("rep")
    )

    def split_of(c):
        b = _split_bucket(c)
        return (
            F.when(b < SPLIT_BOUNDS[0], "train")
            .when(b < SPLIT_BOUNDS[1], "val")
            .otherwise("test")
        )

    assigned = clusters.select("doc_id", "rep", split_of(F.col("rep")).alias("split"))
    per_split = assigned.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("rep").alias("n_clusters"),
    )
    audited = (
        pairs.join(
            assigned.select(F.col("doc_id").alias("d1"), F.col("split").alias("sp1")),
            "d1",
        )
        .join(
            assigned.select(F.col("doc_id").alias("d2"), F.col("split").alias("sp2")),
            "d2",
        )
        .select(
            "sp1",
            "sp2",
            split_of(F.col("d1")).alias("nsp1"),
            split_of(F.col("d2")).alias("nsp2"),
        )
    )
    viol = audited.agg(
        F.coalesce(
            F.sum(F.when(F.col("sp1") != F.col("sp2"), 1).otherwise(0)), F.lit(0)
        ).cast("long").alias("safe_violations"),
        F.coalesce(
            F.sum(F.when(F.col("nsp1") != F.col("nsp2"), 1).otherwise(0)), F.lit(0)
        ).cast("long").alias("naive_violations"),
    )
    return per_split.crossJoin(F.broadcast(viol)).orderBy("split")


def leakage_safe_split_oracle(threshold: float = 0.3) -> str:
    from ..functions.hashing import hash60_sql
    from .dedup import BAND_SIZE, NUM_HASHES, _minhash_pairs_cte

    ctes, final = _minhash_pairs_cte(threshold, NUM_HASHES, BAND_SIZE)

    def split_sql(expr: str) -> str:
        b = f"({hash60_sql(f'{expr}::VARCHAR')} % {SPLIT_BUCKETS})"
        return (
            f"CASE WHEN {b} < {SPLIT_BOUNDS[0]} THEN 'train' "
            f"WHEN {b} < {SPLIT_BOUNDS[1]} THEN 'val' ELSE 'test' END"
        )

    return f"""
WITH RECURSIVE {ctes},
pairs AS (SELECT d1, d2 FROM ({final})),
edges AS (SELECT d1 AS a, d2 AS b FROM pairs
          UNION ALL
          SELECT d2, d1 FROM pairs),
reach(a, b) AS (SELECT a, b FROM edges
                UNION
                SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
labels AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_rep
           FROM reach GROUP BY a),
clusters AS (SELECT d.doc_id, coalesce(l.cluster_rep, d.doc_id) AS rep
             FROM documents d LEFT JOIN labels l USING (doc_id)),
assigned AS (SELECT doc_id, rep, {split_sql('rep')} AS split FROM clusters),
per_split AS (SELECT split, count(*) AS n_docs,
                     count(DISTINCT rep) AS n_clusters
              FROM assigned GROUP BY split),
viol AS (SELECT
    coalesce(sum(CASE WHEN s1.split <> s2.split THEN 1 ELSE 0 END), 0)::BIGINT
        AS safe_violations,
    coalesce(sum(CASE WHEN {split_sql('p.d1')} <> {split_sql('p.d2')} THEN 1 ELSE 0 END), 0)::BIGINT
        AS naive_violations
  FROM pairs p JOIN assigned s1 ON s1.doc_id = p.d1
               JOIN assigned s2 ON s2.doc_id = p.d2)
SELECT split, n_docs, n_clusters, safe_violations, naive_violations
FROM per_split CROSS JOIN viol
ORDER BY split
""".strip()


def curation_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, verdict): the per-document curation DECISION TABLE
    -- for every document, either 'kept' or the FIRST pipeline stage that
    rejected it ('quality' | 'lang' | 'exact_dup' | 'near_dup'), in
    pipeline order. corpus_prep / corpus_funnel_report answer "how many
    survived"; this answers "why was THIS document dropped" -- the
    provenance/audit artifact a production curation run materializes next
    to the cleaned corpus (every row is attributable to one predicate).
    Same lazy stage DataFrames, so the shingle index and pair table are
    the shared memoized artifacts; the verdict itself is two left-semi
    flags over bounded id sets plus scan-column predicates."""
    st = _corpus_stages(spark, sf_dir)
    docs = st["docs"]
    n_tok = T.token_count(F.col("text"))
    avg_len = F.length("text").cast("double") / n_tok.cast("double")
    quality_ok = (
        (n_tok >= QUALITY_MIN_TOKENS)
        & (avg_len >= QUALITY_TOKEN_LEN[0])
        & (avg_len <= QUALITY_TOKEN_LEN[1])
    )
    lang_ok = F.col("lang").isin(*ALLOWED_LANGS)
    surv = st["survivors"].select("doc_id").withColumn("is_surv", F.lit(True))
    clean = st["clean"].select("doc_id").withColumn("is_clean", F.lit(True))
    return (
        docs.select("doc_id", "lang", quality_ok.alias("q"), lang_ok.alias("l"))
        .join(surv, "doc_id", "left")
        .join(clean, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.when(~F.col("q"), F.lit("quality"))
            .when(~F.col("l"), F.lit("lang"))
            .when(F.col("is_surv").isNull(), F.lit("exact_dup"))
            .when(F.col("is_clean").isNull(), F.lit("near_dup"))
            .otherwise(F.lit("kept"))
            .alias("verdict"),
        )
        .orderBy("doc_id")
    )


def curation_verdict_oracle() -> str:
    nt = token_count_sql("text")
    langs = ", ".join(f"'{l}'" for l in ALLOWED_LANGS)
    return f"""
WITH {_corpus_prep_ctes()}
SELECT doc_id, lang,
       CASE
         WHEN NOT ({nt} >= {QUALITY_MIN_TOKENS}
                   AND (length(text)::DOUBLE / {nt}::DOUBLE) >= {QUALITY_TOKEN_LEN[0]}
                   AND (length(text)::DOUBLE / {nt}::DOUBLE) <= {QUALITY_TOKEN_LEN[1]})
           THEN 'quality'
         WHEN lang NOT IN ({langs}) THEN 'lang'
         WHEN doc_id NOT IN (SELECT doc_id FROM survivors) THEN 'exact_dup'
         WHEN doc_id NOT IN (SELECT doc_id FROM clean) THEN 'near_dup'
         ELSE 'kept'
       END AS verdict
FROM documents
ORDER BY doc_id
""".strip()


# --------------------------------------------------------------------------
# Epoch shuffle: the deterministic global reshuffle a training run applies
# per epoch before sharding to data-loader workers. Order is the portable
# hash of (epoch, doc_id) -- a new pseudo-random permutation every epoch
# with no RNG state to coordinate -- and the shard is hash mod N (balanced
# in expectation, exactly reproducible on any cluster size).
# --------------------------------------------------------------------------

EPOCH_SHARDS = 8
EPOCHS = (0, 1)


def corpus_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(epoch, shard, n_docs, order_fingerprint): per-(epoch, shard)
    manifest of the seeded training shuffle.

    Each doc's epoch-e key is hash60(e || ':' || doc_id); shard = key mod
    EPOCH_SHARDS; within a shard the read order is (key, doc_id) ascending.
    ``order_fingerprint`` = sum(position * doc_id) is ORDER-SENSITIVE (any
    transposition changes it), so the gate pins the exact permutation, not
    just membership; different epochs yield different fingerprints (pinned
    in tests -- the reshuffle is real).

    Scale: the per-shard window is the gate-friendly form; the production
    layout is repartitionByRange(key) + sortWithinPartitions -- identical
    order, no per-shard funnel -- with this manifest as its audit. Output
    is bounded: epochs x shards rows.
    """
    from pyspark.sql import Window

    from ..functions.hashing import hash60

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    per_epoch = docs.select(
        "doc_id", F.explode(F.array(*[F.lit(e) for e in EPOCHS])).alias("epoch")
    )
    key = hash60(F.concat_ws(":", F.col("epoch"), F.col("doc_id")))
    keyed = per_epoch.select(
        "epoch", "doc_id", key.alias("k"), (key % EPOCH_SHARDS).alias("shard")
    )
    w = Window.partitionBy("epoch", "shard").orderBy("k", "doc_id")
    pos = keyed.withColumn("pos", F.row_number().over(w).cast("long"))
    return (
        pos.groupBy("epoch", "shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("pos") * F.col("doc_id")).alias("order_fingerprint"),
        )
        .orderBy("epoch", "shard")
    )


def corpus_epoch_shuffle_oracle() -> str:
    from ..functions.hashing import hash60_sql

    epochs = ", ".join(str(e) for e in EPOCHS)
    k = hash60_sql("(epoch::VARCHAR || ':' || doc_id::VARCHAR)")
    return f"""
WITH pe AS (
  SELECT doc_id, t.epoch FROM documents, (SELECT unnest([{epochs}]) AS epoch) t),
keyed AS (
  SELECT epoch, doc_id, {k} AS k, {k} % {EPOCH_SHARDS} AS shard FROM pe),
pos AS (
  SELECT epoch, shard, doc_id,
         row_number() OVER (PARTITION BY epoch, shard
                            ORDER BY k, doc_id)::BIGINT AS pos
  FROM keyed)
SELECT epoch, shard, count(*) AS n_docs,
       sum(pos * doc_id)::BIGINT AS order_fingerprint
FROM pos GROUP BY epoch, shard ORDER BY epoch, shard
""".strip()
