"""Keyword search (BM25), TF-IDF vocabulary stats, and hybrid
vector+keyword fusion (reciprocal-rank fusion) over ``documents`` and
``embeddings``.

The reference engine searches by embedding only (vector_db/services.py:
164-181); any production retrieval stack next to it pairs the vector path
with lexical ranking and fuses the two lists. These operators add that
surface Spark-first:

  - BM25 (Robertson/Sparck Jones, the Okapi formulation): the inverted
    index is a plain DataFrame aggregation -- ``explode(split(text))`` ->
    ``groupBy(doc_id, term)`` -- i.e. ONE shuffle keyed by (doc_id, term),
    the classic map-side-combinable wordcount shape that scales linearly.
    Query-time cost is bounded by filtering postings to the query's terms
    BEFORE any join; corpus statistics (N, avgdl, per-term df) are tiny
    aggregates broadcast into the scoring join, so scoring never shuffles
    the corpus again. At 100 TB the postings build would be materialized
    once (partitioned/bucketed by term) and each query touches only its
    terms' partitions -- the same partition-pruned probe pattern as the
    LSH index table (operators/lsh.py).
  - TF-IDF top terms per language: a per-language vocabulary report
    (corpus analytics / feature selection). Two aggregations and a
    window top-n; the window partitions by ``lang`` -- bounded
    cardinality, no skew funnel.
  - Hybrid RRF: rank lists from exact cosine k-NN (operators/knn.py) and
    BM25 are full-outer-joined on id and fused with
    ``1/(60+rank)`` (Cormack et al., reciprocal rank fusion). Ranks are
    exact integers and the fusion sum has two IEEE terms, so the fused
    scores are bit-exact cross-engine without rounding.

Float-parity contract (matches functions/vector.py): per-term scores are
computed in double with identical literal constants and expression shape
in Spark and DuckDB; the per-document sum is rounded half-up to 6 dp and
normalized (+0.0) before ordering, and ties break on doc_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.vector import oracle_distance_sql
from ..sources.tables import load_table
from . import _memo
from .knn import flat_knn

# Fixed in-vocabulary query for the registry entries (deterministic; the
# synthetic corpus draws from a small wordlist, so these hit real postings).
DEFAULT_QUERY_TERMS = ["table", "scan", "hash", "join"]

# Okapi BM25 constants. 0.75 and 0.25 are exact binary doubles; 1.2 and 2.2
# are spelled as literals (not computed) so both engines parse the same
# nearest-double values.
K1 = "1.2"
K1P1 = "2.2"  # k1 + 1, as a literal on purpose
B = "0.75"
ONE_MINUS_B = "0.25"


def _postings(docs: DataFrame) -> DataFrame:
    """(doc_id, term, tf, dl): the inverted-index build -- wordcount-shaped,
    map-side combinable, one shuffle."""
    return (
        docs.select(
            "doc_id",
            F.size(F.split(F.col("text"), " ")).cast("long").alias("dl"),
            F.explode(F.split(F.col("text"), " ")).alias("term"),
        )
        .groupBy("doc_id", "term", "dl")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def bm25_topk(
    spark: SparkSession,
    sf_dir: str,
    query_terms: list[str] | None = None,
    k: int = 20,
) -> DataFrame:
    """Top-k documents by BM25 for a bag of query terms.

    Plan shape: postings filtered to the query's terms (tiny) -> broadcast
    join with per-term df stats (<= |query| rows) -> broadcast corpus
    stats (1 row) -> per-doc sum -> TakeOrderedAndProject. The only
    full-corpus shuffle is the postings groupBy.
    """
    terms = query_terms or DEFAULT_QUERY_TERMS
    docs = load_table(spark, sf_dir, "documents")
    post = _postings(docs).filter(F.col("term").isin(terms))

    # corpus stats: N documents, average document length (exact: integer
    # sum / integer count, one IEEE division in both engines)
    stats = docs.select(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (
            F.sum(F.size(F.split(F.col("text"), " ")).cast("long")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avgdl"),
    )
    # document frequency per query term (over the whole corpus)
    dfreq = post.groupBy("term").agg(F.countDistinct("doc_id").cast("double").alias("df"))

    scored = (
        post.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (
                F.log(
                    F.lit(1.0)
                    + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                )
                * (
                    (F.col("tf").cast("double") * F.expr(K1P1))
                    / (
                        F.col("tf").cast("double")
                        + F.expr(K1)
                        * (
                            F.expr(ONE_MINUS_B)
                            + F.expr(B)
                            * (F.col("dl").cast("double") / F.col("avgdl"))
                        )
                    )
                )
            ).alias("term_score"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg((F.round(F.sum("term_score"), 6) + F.lit(0.0)).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(k)
    )


def _bm25_scored_sql(terms: list[str]) -> str:
    """Shared DuckDB CTE chain producing (doc_id, bm25) for ``terms`` --
    identical formula shape and literals as :func:`bm25_topk`."""
    lst = ", ".join(f"'{t}'" for t in terms)
    return f"""
toks AS (
  SELECT doc_id, len(str_split(text, ' '))::BIGINT AS dl,
         unnest(str_split(text, ' ')) AS term
  FROM documents),
post AS (
  SELECT doc_id, term, dl, count(*)::BIGINT AS tf
  FROM toks WHERE term IN ({lst}) GROUP BY doc_id, term, dl),
stats AS (
  SELECT count(*)::DOUBLE AS n_docs,
         (sum(len(str_split(text, ' '))::BIGINT)::DOUBLE / count(*)::DOUBLE) AS avgdl
  FROM documents),
dfreq AS (
  SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM post GROUP BY term),
bm25 AS (
  SELECT p.doc_id AS doc_id,
         round(sum(
           ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
           * ((p.tf::DOUBLE * {K1P1})
              / (p.tf::DOUBLE + {K1} * ({ONE_MINUS_B} + {B} * (p.dl::DOUBLE / s.avgdl))))
         ), 6) + 0.0 AS bm25
  FROM post p JOIN dfreq d USING (term), stats s
  GROUP BY p.doc_id)
""".strip()


def bm25_topk_oracle(query_terms: list[str] | None = None, k: int = 20) -> str:
    terms = query_terms or DEFAULT_QUERY_TERMS
    return f"""
WITH {_bm25_scored_sql(terms)}
SELECT doc_id, bm25 FROM bm25
ORDER BY bm25 DESC, doc_id
LIMIT {k}
""".strip()


def tfidf_top_terms(spark: SparkSession, sf_dir: str, top_n: int = 10) -> DataFrame:
    """Per-language top-n vocabulary terms by summed TF-IDF weight
    (``total_tf * ln(N_lang / df)``) -- corpus analytics for feature
    selection / vocabulary building.

    Scale shape: one wordcount shuffle keyed by (lang, term), a tiny
    per-language stats broadcast, and a window partitioned by ``lang``
    (bounded cardinality). Terms present in every document of a language
    get weight 0 (ln 1) and lose to informative terms, as intended.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    term_stats = toks.groupBy("lang", "term").agg(
        F.count(F.lit(1)).alias("total_tf"),
        F.countDistinct("doc_id").cast("double").alias("df"),
    )
    lang_n = docs.groupBy("lang").agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    weighted = term_stats.join(F.broadcast(lang_n), "lang").select(
        "lang",
        "term",
        F.col("total_tf"),
        (
            F.round(
                F.col("total_tf").cast("double")
                * F.log(F.col("n_docs") / F.col("df")),
                6,
            )
            + F.lit(0.0)
        ).alias("tfidf"),
    )
    w = Window.partitionBy("lang").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        weighted.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= top_n)
        .select("lang", "rank", "term", "total_tf", "tfidf")
        .orderBy("lang", "rank")
    )


def tfidf_top_terms_oracle(top_n: int = 10) -> str:
    return f"""
WITH toks AS (
  SELECT lang, doc_id, unnest(str_split(text, ' ')) AS term FROM documents),
term_stats AS (
  SELECT lang, term, count(*)::BIGINT AS total_tf,
         count(DISTINCT doc_id)::DOUBLE AS df
  FROM toks GROUP BY lang, term),
lang_n AS (
  SELECT lang, count(*)::DOUBLE AS n_docs FROM documents GROUP BY lang),
weighted AS (
  SELECT t.lang AS lang, t.term AS term, t.total_tf AS total_tf,
         round(t.total_tf::DOUBLE * ln(l.n_docs / t.df), 6) + 0.0 AS tfidf,
         row_number() OVER (PARTITION BY t.lang
                            ORDER BY round(t.total_tf::DOUBLE * ln(l.n_docs / t.df), 6) + 0.0 DESC,
                                     t.term) AS rank
  FROM term_stats t JOIN lang_n l USING (lang))
SELECT lang, rank, term, total_tf, tfidf
FROM weighted WHERE rank <= {top_n}
ORDER BY lang, rank
""".strip()


def hybrid_rrf(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = 0,
    query_terms: list[str] | None = None,
    pool: int = 100,
    k: int = 20,
    rrf_k: int = 60,
) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of the exact cosine k-NN
    list (embeddings.vec_id) and the BM25 list (documents.doc_id), which
    share the id space in the testdata.

    ``rrf = 1/(rrf_k + vec_rank) + 1/(rrf_k + kw_rank)`` with absent ranks
    contributing 0 (full outer join). Both rank lists are capped at
    ``pool`` before fusion, so the join fuses two tiny DataFrames no
    matter the corpus size -- the expensive parts are the two retrievals,
    each already scale-shaped (TakeOrderedAndProject / filtered postings).
    Fusion arithmetic is exact: integer ranks, one IEEE division per leg,
    a two-term sum -- no rounding needed for oracle parity.
    """
    terms = query_terms or DEFAULT_QUERY_TERMS
    vec = flat_knn(spark, sf_dir, "cosine", k=pool, query_vec_id=query_vec_id)
    # the two unpartitioned rank windows below run over the already-capped
    # pool-row lists (a TakeOrdered output), never the corpus
    vec_ranked = vec.withColumn(
        "vec_rank",
        F.row_number().over(Window.orderBy("distance", "vec_id")).cast("long"),
    ).select(F.col("vec_id").alias("id"), "vec_rank")

    kw = bm25_topk(spark, sf_dir, terms, k=pool)
    kw_ranked = kw.withColumn(
        "kw_rank",
        F.row_number().over(Window.orderBy(F.col("bm25").desc(), "doc_id")).cast("long"),
    ).select(F.col("doc_id").alias("id"), "kw_rank")

    fused = vec_ranked.join(kw_ranked, "id", "full_outer").select(
        "id",
        "vec_rank",
        "kw_rank",
        (
            F.coalesce(
                F.lit(1.0) / (F.lit(float(rrf_k)) + F.col("vec_rank").cast("double")),
                F.lit(0.0),
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(float(rrf_k)) + F.col("kw_rank").cast("double")),
                F.lit(0.0),
            )
        ).alias("rrf"),
    )
    return fused.orderBy(F.col("rrf").desc(), "id").limit(k)


def hybrid_rrf_oracle(
    query_vec_id: int = 0,
    query_terms: list[str] | None = None,
    pool: int = 100,
    k: int = 20,
    rrf_k: int = 60,
) -> str:
    terms = query_terms or DEFAULT_QUERY_TERMS
    d = oracle_distance_sql("cosine", "e.ee", "q.qe")
    return f"""
WITH {_bm25_scored_sql(terms)},
vec AS (
  SELECT e.vec_id AS id,
         row_number() OVER (ORDER BY {d}, e.vec_id) AS vec_rank
  FROM (SELECT vec_id, embedding::DOUBLE[] AS ee FROM embeddings) e,
       (SELECT embedding::DOUBLE[] AS qe FROM embeddings
        WHERE vec_id = {query_vec_id}) q
  ORDER BY vec_rank LIMIT {pool}),
kw AS (
  SELECT doc_id AS id,
         row_number() OVER (ORDER BY bm25 DESC, doc_id) AS kw_rank
  FROM bm25 ORDER BY kw_rank LIMIT {pool}),
fused AS (
  SELECT coalesce(vec.id, kw.id) AS id, vec.vec_rank AS vec_rank,
         kw.kw_rank AS kw_rank,
         coalesce(1.0 / ({rrf_k}.0 + vec.vec_rank::DOUBLE), 0.0)
         + coalesce(1.0 / ({rrf_k}.0 + kw.kw_rank::DOUBLE), 0.0) AS rrf
  FROM vec FULL OUTER JOIN kw ON vec.id = kw.id)
SELECT id, vec_rank, kw_rank, rrf FROM fused
ORDER BY rrf DESC, id
LIMIT {k}
""".strip()


# --------------------------------------------------------------------------
# Boolean retrieval: (("table" AND "hash") OR "vector") AND NOT "slow" --
# the classic IR operator class next to ranked BM25. Expressed as set-
# membership predicates on the token array (pushdown-friendly single scan);
# at 100 TB the same query runs as semi/anti-joins against the term-
# partitioned postings table, touching only the named terms' partitions --
# the same probe pattern as bm25_topk's filtered postings.
# --------------------------------------------------------------------------

def boolean_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    has = lambda t: F.array_contains(toks, t)
    pred = ((has("table") & has("hash")) | has("vector")) & ~has("slow")
    return (
        docs.filter(pred)
        .select(
            "doc_id",
            has("table").alias("has_table"),
            has("hash").alias("has_hash"),
            has("vector").alias("has_vector"),
        )
        .orderBy("doc_id")
    )


def boolean_search_oracle() -> str:
    has = lambda t: f"list_contains(str_split(text, ' '), '{t}')"
    return f"""
SELECT doc_id, {has('table')} AS has_table, {has('hash')} AS has_hash,
       {has('vector')} AS has_vector
FROM documents
WHERE (({has('table')} AND {has('hash')}) OR {has('vector')}) AND NOT {has('slow')}
ORDER BY doc_id
""".strip()


# --- sparse-vector search (inverted-index dot product) -----------------------

# Query document for the registry entry: doc 0's sparse vector retrieves
# against the whole corpus (self-retrieval ranks first -- the sanity the
# dense flat scan also exhibits).
SPARSE_QUERY_DOC = 0


# driver-side memo of resolved sparse query vectors (bounded request
# state: one doc's -- or Q docs' -- distinct terms); the resolving scan
# ran once per sparse query invocation before round 10
@_memo.per_app
def _sparse_query_rows(spark: SparkSession, sf_dir: str, query_doc_id: int) -> list:
    """(term, tf_q) rows of one query document."""
    return (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") == query_doc_id)
        .select(F.explode(F.split(F.col("text"), " ")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf_q"))
        .collect()
    )


@_memo.per_app
def _sparse_batch_rows(spark: SparkSession, sf_dir: str, num_queries: int) -> list:
    """(qdoc, term, tf_q) rows of query documents 0..num_queries-1."""
    return (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < num_queries)
        .select(
            F.col("doc_id").alias("qdoc"),
            F.explode(F.split(F.col("text"), " ")).alias("term"),
        )
        .groupBy("qdoc", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf_q"))
        .collect()
    )


def sparse_dot_topk(
    spark: SparkSession,
    sf_dir: str,
    query_doc_id: int = SPARSE_QUERY_DOC,
    k: int = 15,
) -> DataFrame:
    """(doc_id, score): top-k documents by sparse-vector dot product.

    The sparse leg of a vector store: each document is a sparse vector over
    the term vocabulary (SPLADE/TF-IDF-style), stored as (doc_id, term,
    weight) postings, and search is the inverted-index dot product
    score(d) = sum over shared terms of w(d,t) * w(q,t) -- the execution a
    sparse-ANN engine runs, expressed as the postings join it actually is.

    Weights are integer-exact so the gate is hash-exact cross-engine:
    w(d,t) = tf(d,t) * idf_milli(t), with idf_milli(t) = round-half-up of
    1000 * N / df(t) computed by EXACT integer division ((2000N + df) div
    2df) -- no float anywhere; the per-doc sum accumulates DECIMAL(38,0)
    (HUGEINT in the oracle) so the documented int64 product bound
    (tf * 1000N/df squared, summed) cannot overflow, and only the final
    bounded score casts back to BIGINT.

    Plan shape (the BM25 shape, operators/search.py:73): the ONLY
    corpus-sized shuffle is the postings groupBy; the query's sparse vector
    (distinct terms of one doc) and the per-term df stats broadcast into the
    scoring join; per-doc sums shuffle only docs sharing a query term;
    top-k is TakeOrderedAndProject. At 100 TB the postings table is the
    materialized term-bucketed index and a query touches its terms only.
    """
    docs = load_table(spark, sf_dir, "documents")

    # the query's sparse vector is bounded request state (distinct terms of
    # ONE doc): resolve it driver-side so the postings shuffle can be
    # pruned to the query's terms BEFORE the groupBy -- a join-derived
    # filter cannot be pushed below the aggregate, and without the literal
    # pushdown the full vocabulary shuffles (measured 6.4x at 10x docs vs
    # the BM25 shape's ~2x)
    qrows = _sparse_query_rows(spark, sf_dir, query_doc_id)
    if not qrows:
        raise ValueError(f"query doc {query_doc_id} not found or empty")
    terms = [r["term"] for r in qrows]
    # arrow_local_df, not createDataFrame: tuple-list local relations
    # re-verify + re-serialize per ACTION (sources/tables.py)
    from ..sources.tables import arrow_local_df

    qvec = arrow_local_df(
        spark,
        {"term": [r["term"] for r in qrows], "tf_q": [r["tf_q"] for r in qrows]},
        "term string, tf_q long",
    )

    post = (
        docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    matched = post.join(F.broadcast(qvec), "term")

    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    dfreq = matched.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    idf = (
        dfreq.crossJoin(F.broadcast(n_docs))
        .select(
            "term",
            F.expr("(2000 * n_docs + df) div (2 * df)").alias("idf_milli"),
        )
    )
    return (
        matched.join(F.broadcast(idf), "term")
        .select(
            "doc_id",
            (
                (F.col("tf") * F.col("idf_milli")).cast("decimal(38,0)")
                * (F.col("tf_q") * F.col("idf_milli")).cast("decimal(38,0)")
            ).alias("part"),
        )
        .groupBy("doc_id")
        .agg(F.sum("part").cast("long").alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(k)
    )


def sparse_dot_topk_oracle(
    query_doc_id: int = SPARSE_QUERY_DOC, k: int = 15
) -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(str_split(text, ' ')) AS term FROM documents),
post AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks GROUP BY doc_id, term),
qvec AS (
  SELECT term, tf AS tf_q FROM post WHERE doc_id = {query_doc_id}),
matched AS (
  SELECT p.doc_id, p.term, p.tf, q.tf_q FROM post p JOIN qvec q USING (term)),
n AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
idf AS (
  SELECT term, (2000 * n.n_docs + df) // (2 * df) AS idf_milli
  FROM (SELECT term, count(DISTINCT doc_id)::BIGINT AS df
        FROM matched GROUP BY term), n)
SELECT m.doc_id AS doc_id,
       sum((m.tf * i.idf_milli)::HUGEINT * (m.tf_q * i.idf_milli))::BIGINT
           AS score
FROM matched m JOIN idf i USING (term)
GROUP BY m.doc_id
ORDER BY score DESC, doc_id
LIMIT {k}
""".strip()


def hybrid_sparse_dense(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = 0,
    query_doc_id: int = SPARSE_QUERY_DOC,
    pool: int = 100,
    k: int = 20,
    rrf_k: int = 60,
) -> DataFrame:
    """Sparse + dense hybrid: RRF fusion of the exact cosine k-NN list and
    the sparse-vector dot-product list -- the canonical two-encoder hybrid
    of modern vector stores (dense embedding + SPLADE-style sparse), fused
    by reciprocal rank exactly like :func:`hybrid_rrf` fuses dense + BM25.

    Same scale shape: both legs are already pool-capped retrievals, so the
    full-outer fusion join touches 2 x pool rows regardless of corpus size,
    and the fusion arithmetic (integer ranks, one IEEE division per leg,
    two-term sum) is exact cross-engine with no rounding.
    """
    vec = flat_knn(spark, sf_dir, "cosine", k=pool, query_vec_id=query_vec_id)
    vec_ranked = vec.withColumn(
        "vec_rank",
        F.row_number().over(Window.orderBy("distance", "vec_id")).cast("long"),
    ).select(F.col("vec_id").alias("id"), "vec_rank")

    sp = sparse_dot_topk(spark, sf_dir, query_doc_id=query_doc_id, k=pool)
    sp_ranked = sp.withColumn(
        "sparse_rank",
        F.row_number()
        .over(Window.orderBy(F.col("score").desc(), "doc_id"))
        .cast("long"),
    ).select(F.col("doc_id").alias("id"), "sparse_rank")

    fused = vec_ranked.join(sp_ranked, "id", "full_outer").select(
        "id",
        "vec_rank",
        "sparse_rank",
        (
            F.coalesce(
                F.lit(1.0) / (F.lit(float(rrf_k)) + F.col("vec_rank").cast("double")),
                F.lit(0.0),
            )
            + F.coalesce(
                F.lit(1.0)
                / (F.lit(float(rrf_k)) + F.col("sparse_rank").cast("double")),
                F.lit(0.0),
            )
        ).alias("rrf"),
    )
    return fused.orderBy(F.col("rrf").desc(), "id").limit(k)


def hybrid_sparse_dense_oracle(
    query_vec_id: int = 0,
    query_doc_id: int = SPARSE_QUERY_DOC,
    pool: int = 100,
    k: int = 20,
    rrf_k: int = 60,
) -> str:
    d = oracle_distance_sql("cosine", "e.ee", "q.qe")
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(str_split(text, ' ')) AS term FROM documents),
post AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks GROUP BY doc_id, term),
qvec AS (
  SELECT term, tf AS tf_q FROM post WHERE doc_id = {query_doc_id}),
matched AS (
  SELECT p.doc_id, p.term, p.tf, q.tf_q FROM post p JOIN qvec q USING (term)),
n AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
idf AS (
  SELECT term, (2000 * n.n_docs + df) // (2 * df) AS idf_milli
  FROM (SELECT term, count(DISTINCT doc_id)::BIGINT AS df
        FROM matched GROUP BY term), n),
sp_scores AS (
  SELECT m.doc_id,
         sum((m.tf * i.idf_milli)::HUGEINT * (m.tf_q * i.idf_milli))::BIGINT
             AS score
  FROM matched m JOIN idf i USING (term) GROUP BY m.doc_id),
sp AS (
  SELECT doc_id AS id,
         row_number() OVER (ORDER BY score DESC, doc_id) AS sparse_rank
  FROM sp_scores ORDER BY sparse_rank LIMIT {pool}),
vec AS (
  SELECT e.vec_id AS id,
         row_number() OVER (ORDER BY {d}, e.vec_id) AS vec_rank
  FROM (SELECT vec_id, embedding::DOUBLE[] AS ee FROM embeddings) e,
       (SELECT embedding::DOUBLE[] AS qe FROM embeddings
        WHERE vec_id = {query_vec_id}) q
  ORDER BY vec_rank LIMIT {pool}),
fused AS (
  SELECT coalesce(vec.id, sp.id) AS id, vec.vec_rank AS vec_rank,
         sp.sparse_rank AS sparse_rank,
         coalesce(1.0 / ({rrf_k}.0 + vec.vec_rank::DOUBLE), 0.0)
         + coalesce(1.0 / ({rrf_k}.0 + sp.sparse_rank::DOUBLE), 0.0) AS rrf
  FROM vec FULL OUTER JOIN sp ON vec.id = sp.id)
SELECT id, vec_rank, sparse_rank, rrf FROM fused
ORDER BY rrf DESC, id
LIMIT {k}
""".strip()


def sparse_dot_batch(
    spark: SparkSession,
    sf_dir: str,
    num_queries: int = 4,
    k: int = 10,
) -> DataFrame:
    """(qdoc, rank, doc_id, score): batch sparse retrieval -- docs 0..Q-1
    each retrieve against the corpus, ONE postings pass serves the whole
    batch (the retrieval-eval shape: Q queries amortize one inverted-index
    build instead of Q passes).

    Same integer-exact weight contract as :func:`sparse_dot_topk`. The
    union of the batch's terms resolves driver-side (bounded: Q docs'
    distinct terms) and prunes the exploded tokens BEFORE the shuffle;
    per-(qdoc, doc) sums then shuffle only matching pairs. Per-query top-k
    is two-phase (partition-local rank, then rank over the k x partitions
    survivors) so no single query funnels its full candidate set through
    one task -- the batch_knn discipline (operators/knn.py:25).
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    qrows = _sparse_batch_rows(spark, sf_dir, num_queries)
    if not qrows:
        raise ValueError("no query docs found")
    terms = sorted({r["term"] for r in qrows})
    # arrow_local_df, not createDataFrame (re-serializes per action)
    from ..sources.tables import arrow_local_df

    qvec = arrow_local_df(
        spark,
        {
            "qdoc": [r["qdoc"] for r in qrows],
            "term": [r["term"] for r in qrows],
            "tf_q": [r["tf_q"] for r in qrows],
        },
        "qdoc long, term string, tf_q long",
    )
    post = (
        docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    dfreq = post.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    idf = dfreq.crossJoin(F.broadcast(n_docs)).select(
        "term", F.expr("(2000 * n_docs + df) div (2 * df)").alias("idf_milli")
    )
    scored = (
        post.join(F.broadcast(qvec), "term")
        .join(F.broadcast(idf), "term")
        .select(
            "qdoc",
            "doc_id",
            (
                (F.col("tf") * F.col("idf_milli")).cast("decimal(38,0)")
                * (F.col("tf_q") * F.col("idf_milli")).cast("decimal(38,0)")
            ).alias("part"),
        )
        .groupBy("qdoc", "doc_id")
        .agg(F.sum("part").cast("long").alias("score"))
    )
    w1 = Window.partitionBy("qdoc", F.spark_partition_id()).orderBy(
        F.col("score").desc(), "doc_id"
    )
    w2 = Window.partitionBy("qdoc").orderBy(F.col("score").desc(), "doc_id")
    return (
        scored.withColumn("prank", F.row_number().over(w1))
        .filter(F.col("prank") <= k)
        .withColumn("rank", F.row_number().over(w2).cast("long"))
        .filter(F.col("rank") <= k)
        .select("qdoc", "rank", "doc_id", "score")
        .orderBy("qdoc", "rank")
    )


def sparse_dot_batch_oracle(num_queries: int = 4, k: int = 10) -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(str_split(text, ' ')) AS term FROM documents),
post AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks GROUP BY doc_id, term),
qvec AS (
  SELECT doc_id AS qdoc, term, tf AS tf_q FROM post WHERE doc_id < {num_queries}),
n AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
terms AS (SELECT DISTINCT term FROM qvec),
fpost AS (SELECT p.* FROM post p JOIN terms USING (term)),
idf AS (
  SELECT term, (2000 * n.n_docs + df) // (2 * df) AS idf_milli
  FROM (SELECT term, count(DISTINCT doc_id)::BIGINT AS df
        FROM fpost GROUP BY term), n),
scored AS (
  SELECT q.qdoc, p.doc_id,
         sum((p.tf * i.idf_milli)::HUGEINT * (q.tf_q * i.idf_milli))::BIGINT
             AS score
  FROM fpost p JOIN qvec q USING (term) JOIN idf i USING (term)
  GROUP BY q.qdoc, p.doc_id),
ranked AS (
  SELECT qdoc, doc_id, score,
         row_number() OVER (PARTITION BY qdoc
                            ORDER BY score DESC, doc_id)::BIGINT AS rank
  FROM scored)
SELECT qdoc, rank, doc_id, score FROM ranked
WHERE rank <= {k}
ORDER BY qdoc, rank
""".strip()
