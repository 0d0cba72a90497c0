"""Deduplication operators over ``documents`` / ``embeddings`` -- the
training-data-pipeline surface (exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup), each with a DuckDB oracle that
replicates the SAME algorithm, so approximate methods are compared on
identical candidate sets (no recall mismatch possible).

Scale notes (100 TB):
  - Shingles are hashed to 31-bit ints before any shuffle (shuffling long
    strings is the classic mistake); the shingle->doc inverted index is the
    only wide exchange.
  - The Jaccard self-join shuffles on shingle hash; in production you cap
    shingle document-frequency first (ultra-common shingles create
    quadratic hot keys) -- the cap is a parameter here, default off so the
    oracle stays exact.
  - MinHash banding turns the quadratic candidate problem into an equi-join
    on (band, band_key) -- the standard LSH-at-scale pattern; bucket sizes
    are bounded w.h.p., so no skew mitigation is needed beyond AQE.
  - Embedding near-dup is blocked by label here (stand-in for an LSH/IVF
    bucketing column at scale) to avoid the full cross join.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from . import _memo
from ..functions.hashing import MERSENNE31, hash31, hash31_sql, minhash_params
from ..functions.text import tokens
from ..functions.vector import distance_expr, normalize_float, oracle_distance_sql, round6
from ..sources.tables import load_table

SHINGLE_WIDTH = 3


def shingles(c: Column) -> Column:
    """Distinct 3-word shingles of a whitespace-tokenized text column."""
    toks = tokens(c)
    n = F.size(toks)
    sh = F.when(
        n >= SHINGLE_WIDTH,
        F.transform(
            F.sequence(F.lit(1), n - (SHINGLE_WIDTH - 1)),
            lambda i: F.concat_ws(
                " ",
                F.element_at(toks, i),
                F.element_at(toks, i + 1),
                F.element_at(toks, i + 2),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(sh)


def shingles_sql(expr: str) -> str:
    t = f"str_split({expr}, ' ')"
    return (
        f"list_distinct(list_transform(range(1, greatest(len({t}) - {SHINGLE_WIDTH - 1}, 0) + 1), "
        f"i -> {t}[i] || ' ' || {t}[i+1] || ' ' || {t}[i+2]))"
    )


# --------------------------------------------------------------------------
# Exact dedup: hash-groupBy on full text (md5 as the grouping key at scale
# so the shuffle moves 32-byte digests, not documents)
# --------------------------------------------------------------------------

def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.md5(F.col("text")).alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.min("doc_id").alias("rep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("rep_doc_id", "n_copies")
        .orderBy("rep_doc_id")
    )


def exact_dedup_oracle() -> str:
    return """
SELECT min(doc_id) AS rep_doc_id, count(*) AS n_copies
FROM documents GROUP BY md5(text) ORDER BY rep_doc_id
""".strip()


# --------------------------------------------------------------------------
# n-gram Jaccard near-dup: inverted shingle index self-join + exact verify
# --------------------------------------------------------------------------

def _shingle_batches(it):
    """Arrow-batch shingling + hashing (module-level so the plan node is
    identical across calls and Spark's cache manager can match it)."""
    import hashlib

    import pandas as pd

    for pdf in it:
        out_id, out_h = [], []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            toks = (text or "").split(" ")
            seen = set()
            seen_h = set()
            for i in range(len(toks) - (SHINGLE_WIDTH - 1)):
                s = " ".join(toks[i : i + SHINGLE_WIDTH])
                if s not in seen:
                    seen.add(s)
                    h = int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16) % MERSENNE31
                    # per-doc-distinct HASHES (not just shingle strings), so
                    # set-based verification (array_intersect over the sets
                    # table) and the exploded-join count(*) agree even if two
                    # shingles collide into one 31-bit hash
                    if h not in seen_h:
                        seen_h.add(h)
                        out_id.append(doc_id)
                        out_h.append(h)
        yield pd.DataFrame({"doc_id": out_id, "sh": out_h})


_INDEX_MEMO: dict[tuple[str, str, bool], DataFrame] = _memo.register({})


def _shingle_index(spark: SparkSession, sf_dir: str, fast: bool = True) -> DataFrame:
    """Inverted shingle index (doc_id, shingle_hash).

    Fast path: shingling + md5 hashing in one Arrow mapInPandas pass --
    Spark's higher-order `transform` lambdas and the md5/conv chain are
    interpreted per shingle and dominate the whole dedup family's runtime
    (8.9s -> ~1s at sf0.1). hashlib.md5 produces the exact same 60-bit
    values as the SQL expression (same bytes in), so the oracle contract is
    untouched; the expression path remains for parity testing.

    Memoized + persisted: every dedup query references this subtree
    (sizes, both self-join sides, the verify intersection) and FIVE
    registry queries share it -- at 100 TB this is the 'index build' phase
    materialized once as a table; the per-application memo + cache() is
    the in-session analog (ints only -- strings never survive the map).
    """
    key = (spark.sparkContext.applicationId, sf_dir, fast)
    if key in _INDEX_MEMO:
        return _INDEX_MEMO[key]
    docs = load_table(spark, sf_dir, "documents")
    if fast:
        out = (
            docs.select("doc_id", "text")
            .mapInPandas(_shingle_batches, "doc_id long, sh long")
            .cache()
        )
    else:
        out = (
            docs.select("doc_id", F.explode(shingles(F.col("text"))).alias("s"))
            .select("doc_id", hash31(F.col("s")).alias("sh"))
            .distinct()  # per-doc-distinct hashes; see _shingle_batches
            .cache()
        )
    _INDEX_MEMO[key] = out
    return out


_DF_MEMO: dict[tuple[str, str], DataFrame] = _memo.register({})


def _shingle_df_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shingle document frequency (sh, df) -- the index's stats table.

    Memoized + persisted like the index itself: the df-capped family reads
    it 2-3x per query (histogram, cap filter, rare-shingle set) and both
    dfcap variants share it. At 100 TB this is the stats sidecar you
    materialize next to the inverted index; locally cache() stands in.
    """
    key = (spark.sparkContext.applicationId, sf_dir)
    if key in _DF_MEMO:
        return _DF_MEMO[key]
    sh = _shingle_index(spark, sf_dir)
    out = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df")).cache()
    _DF_MEMO[key] = out
    return out


_SETS_MEMO: dict[tuple[str, str], DataFrame] = _memo.register({})


def _shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shset, n): per-document distinct-shingle array + set size --
    the candidate VERIFICATION artifact. Exact Jaccard/containment for a
    candidate pair becomes two doc_id equi-joins against this table plus
    one array_intersect per pair, replacing the round-3 pattern of
    re-joining the full exploded inverted index twice per candidate set
    (the measured scale-killer: pair x shingle rows grow superlinearly in
    duplicate-dense data). At 100 TB this is the doc->shingle-set sidecar
    materialized next to the inverted index; rows are a few hundred longs
    each, so the join moves O(candidates) compact arrays, not O(candidates
    x shingles) exploded rows."""
    key = (spark.sparkContext.applicationId, sf_dir)
    if key in _SETS_MEMO:
        return _SETS_MEMO[key]
    sh = _shingle_index(spark, sf_dir)
    out = (
        sh.groupBy("doc_id")
        .agg(F.collect_list("sh").alias("shset"), F.count(F.lit(1)).alias("n"))
        .cache()
    )
    _SETS_MEMO[key] = out
    return out


def _verify_jaccard(surv: DataFrame, sets: DataFrame, threshold: float) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs (d1, d2) against the
    shingle-set table: (d1, d2, jaccard) rows meeting the threshold."""
    s1 = sets.select(
        F.col("doc_id").alias("d1"), F.col("shset").alias("s1"), F.col("n").alias("n1")
    )
    s2 = sets.select(
        F.col("doc_id").alias("d2"), F.col("shset").alias("s2"), F.col("n").alias("n2")
    )
    c = F.size(F.array_intersect(F.col("s1"), F.col("s2")))
    jac = c.cast("double") / (F.col("n1") + F.col("n2") - c).cast("double")
    return (
        surv.join(s1, "d1")
        .join(s2, "d2")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("d1", "d2", "jaccard")
    )


_PAIRS_MEMO: dict[tuple[str, str, float], DataFrame] = _memo.register({})
_INTER_MEMO: dict[tuple[str, str], DataFrame] = _memo.register({})


def _pair_intersections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unordered pair intersection counts (d1 < d2, c = |shingles(d1) ∩
    shingles(d2)|) -- the expensive self-join over the inverted index,
    shared by the Jaccard AND containment families (memoized: one shuffle
    feeds both similarity definitions)."""
    key = (spark.sparkContext.applicationId, sf_dir)
    if key in _INTER_MEMO:
        return _INTER_MEMO[key]
    sh = _shingle_index(spark, sf_dir)
    a = sh.alias("a")
    b = sh.alias("b")
    out = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count(F.lit(1)).alias("c"))
        .cache()
    )
    _INTER_MEMO[key] = out
    return out


def _jaccard_pairs_cached(spark: SparkSession, sf_dir: str, threshold: float) -> DataFrame:
    """Unordered verified near-dup pair table (d1, d2, jaccard) -- the
    second derived artifact after the shingle index. Memoized + cached:
    the pairs feed FOUR consumers (the pairs report, clustering, corpus
    prep's drop set, tests), each of which re-ran the self-join +
    intersection aggregation. At 100 TB this is the materialized pair
    table every dedup job reads; locally cache() stands in."""
    key = (spark.sparkContext.applicationId, sf_dir, threshold)
    if key in _PAIRS_MEMO:
        return _PAIRS_MEMO[key]
    sh = _shingle_index(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = _pair_intersections(spark, sf_dir)
    sa = sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1"))
    sb = sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"))
    jac = F.col("c").cast("double") / (F.col("n1") + F.col("n2") - F.col("c")).cast("double")
    out = (
        inter.join(sa, "d1")
        .join(sb, "d2")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("d1", "d2", "jaccard")
        .cache()
    )
    _PAIRS_MEMO[key] = out
    return out


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str, threshold: float = 0.3) -> DataFrame:
    return _jaccard_pairs_cached(spark, sf_dir, threshold).orderBy("d1", "d2")


def _shingle_index_sql() -> str:
    # DISTINCT on (doc_id, hash): shingle strings are already distinct per
    # doc, but two strings may collide into one 31-bit hash -- set-dedupe
    # the hashes so set-based verification and join-count verification
    # agree (mirrors the Spark index's per-doc hash dedupe)
    return f"""
sh AS (SELECT DISTINCT doc_id, {hash31_sql('s')} AS sh
       FROM (SELECT doc_id, unnest({shingles_sql('text')}) AS s FROM documents))
""".strip()


# --------------------------------------------------------------------------
# Containment near-dup: |A ∩ B| / |A| -- the asymmetric twin of Jaccard
# that catches a document EMBEDDED in a larger one (quote-expansion,
# boilerplate wrapping, prefix/suffix duplication), which symmetric Jaccard
# under-scores as the size ratio grows. Same inverted-index self-join as
# the Jaccard family (the intersection table is computed once for the
# unordered pair and fanned out to both directions -- no second shuffle).
# --------------------------------------------------------------------------

def containment_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = 0.6
) -> DataFrame:
    """(src_doc, dst_doc, containment): ordered pairs where at least
    ``threshold`` of src's distinct shingles also appear in dst. The
    division is a single IEEE op on two integers, so no rounding is needed
    for oracle parity."""
    sh = _shingle_index(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = _pair_intersections(spark, sf_dir)
    both = inter.select(
        F.col("d1").alias("src_doc"), F.col("d2").alias("dst_doc"), "c"
    ).unionAll(
        inter.select(F.col("d2").alias("src_doc"), F.col("d1").alias("dst_doc"), "c")
    )
    cont = F.col("c").cast("double") / F.col("n").cast("double")
    return (
        both.join(sizes.select(F.col("doc_id").alias("src_doc"), "n"), "src_doc")
        .withColumn("containment", cont)
        .filter(F.col("containment") >= threshold)
        .select("src_doc", "dst_doc", "containment")
        .orderBy("src_doc", "dst_doc")
    )


def containment_pairs_dfcap(
    spark: SparkSession, sf_dir: str, threshold: float = 0.6, max_df: int = 3
) -> DataFrame:
    """Df-capped containment: candidate pairs from rare shingles only
    (same candidate generation as :func:`ngram_jaccard_pairs_dfcap` -- one
    shared cand subtree at scale), containment still computed over FULL
    shingle sets via the compact sets table. The registered flagship; the
    uncapped :func:`containment_pairs` survives as the test-only recall
    cross-check."""
    sh = _shingle_index(spark, sf_dir)
    df_counts = _shingle_df_counts(spark, sf_dir)
    rare = sh.join(
        F.broadcast(df_counts.filter(F.col("df") <= max_df).select("sh")), "sh"
    )
    a, b = rare.alias("a"), rare.alias("b")
    cand = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )
    sets = _shingle_sets(spark, sf_dir)
    s1 = sets.select(
        F.col("doc_id").alias("d1"), F.col("shset").alias("s1"), F.col("n").alias("n1")
    )
    s2 = sets.select(
        F.col("doc_id").alias("d2"), F.col("shset").alias("s2"), F.col("n").alias("n2")
    )
    c = F.size(F.array_intersect(F.col("s1"), F.col("s2")))
    both = (
        cand.join(s1, "d1")
        .join(s2, "d2")
        .withColumn("c", c)
        .select("d1", "d2", "c", "n1", "n2")
    )
    dirs = both.select(
        F.col("d1").alias("src_doc"), F.col("d2").alias("dst_doc"), "c",
        F.col("n1").alias("n"),
    ).unionAll(
        both.select(
            F.col("d2").alias("src_doc"), F.col("d1").alias("dst_doc"), "c",
            F.col("n2").alias("n"),
        )
    )
    cont = F.col("c").cast("double") / F.col("n").cast("double")
    return (
        dirs.withColumn("containment", cont)
        .filter(F.col("containment") >= threshold)
        .select("src_doc", "dst_doc", "containment")
        .orderBy("src_doc", "dst_doc")
    )


def containment_pairs_dfcap_oracle(threshold: float = 0.6, max_df: int = 3) -> str:
    ctes, _ = _dfcap_pairs_cte(threshold, max_df)  # sh/dfc/rare/cand/sizes/inter
    return f"""
WITH {ctes},
dirs AS (SELECT d1 AS src_doc, d2 AS dst_doc, c FROM inter
         UNION ALL
         SELECT d2 AS src_doc, d1 AS dst_doc, c FROM inter)
SELECT src_doc, dst_doc, c::DOUBLE / s.n::DOUBLE AS containment
FROM dirs JOIN sizes s ON src_doc = s.doc_id
WHERE c::DOUBLE / s.n::DOUBLE >= {threshold}
ORDER BY src_doc, dst_doc
""".strip()


# --------------------------------------------------------------------------
# MinHash + LSH banding: K signatures, B bands; candidates = band-key
# equi-join; final pairs verified with exact Jaccard. The oracle replicates
# the complete pipeline, so Spark and DuckDB see identical candidates.
# --------------------------------------------------------------------------

NUM_HASHES = 12
BAND_SIZE = 3  # -> 4 bands; s-curve threshold ~ (1/4)^(1/3) ~ 0.63
# A band bucket holding more than this many documents is boilerplate (a
# shared template/header whose band signature repeats corpus-wide): its
# within-bucket pair count grows quadratically while its pairs carry no
# near-dup signal, so it is dropped from candidate generation -- the same
# discipline as the shingle df-cap. Genuine duplicate clusters are far
# smaller than this in any corpus where exact dedup ran first.
BUCKET_CAP = 64


def _min_matches(threshold: float, num_hashes: int) -> int:
    """Integer cutoff for the signature-estimated Jaccard pre-filter:
    candidates whose signatures agree on fewer than floor(threshold * K)
    components are dropped before exact verification. E[matches] = K * j
    for true Jaccard j; floor (not ceil) keeps every candidate whose
    signature-estimated Jaccard is >= the verification threshold, so the
    pre-filter never prunes above the threshold exact verification will
    apply (ceil would raise the effective cutoff to ceil(t*K)/K > t and
    silently drop true pairs with Jaccard in [t, ceil(t*K)/K)). Uses data
    already in hand (two K-int arrays) -- no shingle work for the
    band-collision false-positive mass. Computed in Python so Spark and
    the oracle share one exact integer."""
    import math

    return math.floor(threshold * num_hashes + 1e-9)


def autotune_bands(threshold: float, max_hashes: int = 16) -> tuple[int, int]:
    """Invert the LSH s-curve: pick (n_bands, band_size) whose candidate
    threshold (1/b)^(1/r) lands closest to the target Jaccard.

    P(candidate | jaccard=s) = 1 - (1 - s^r)^b has its inflection near
    (1/b)^(1/r); minimizing |(1/b)^(1/r) - t| under b*r <= max_hashes is
    the standard banding design rule (Leskovec/Rajaraman/Ullman, "Mining
    of Massive Datasets" ch.3). Ties prefer more total hashes (sharper
    curve), then more bands (higher recall).
    """
    best: tuple[float, int, int, int] | None = None
    for r in range(1, max_hashes + 1):
        for b in range(1, max_hashes // r + 1):
            t = (1.0 / b) ** (1.0 / r)
            cand = (abs(t - threshold), -(b * r), -b, r)
            if best is None or cand < (best[0], best[1], best[2], best[3]):
                best = (abs(t - threshold), -(b * r), -b, r)
                chosen = (b, r)
    return chosen


def _minhash_signature(sh: DataFrame, num_hashes: int = NUM_HASHES) -> DataFrame:
    params = minhash_params(num_hashes)
    aggs = [
        F.min((F.lit(a) * F.col("sh") + F.lit(b)) % MERSENNE31).alias(f"m{j}")
        for j, (a, b) in enumerate(params)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


_SIG_MEMO: dict[tuple[str, str, int], DataFrame] = _memo.register({})
_MH_CAND_MEMO: dict[tuple, DataFrame] = _memo.register({})
_MH_PAIRS_MEMO: dict[tuple, DataFrame] = _memo.register({})


def _minhash_signature_cached(
    spark: SparkSession, sf_dir: str, num_hashes: int
) -> DataFrame:
    """Signature matrix as a cached artifact (keyed by hash count: the
    default and autotuned banding schemes use different K). One groupBy
    over the shingle index per scheme per application -- the signature
    table a production MinHash pipeline materializes next to the index."""
    key = (spark.sparkContext.applicationId, sf_dir, num_hashes)
    if key in _SIG_MEMO:
        return _SIG_MEMO[key]
    out = _minhash_signature(_shingle_index(spark, sf_dir), num_hashes).cache()
    _SIG_MEMO[key] = out
    return out


def minhash_lsh_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.3,
    num_hashes: int = NUM_HASHES,
    band_size: int = BAND_SIZE,
    bucket_cap: int = BUCKET_CAP,
) -> DataFrame:
    """MinHash banding with three scale guards, each mirrored exactly in
    the oracle (reference semantics: near-dup candidate generation;
    candidate->verify discipline per Leskovec/Rajaraman/Ullman ch.3):

    1. band-bucket cap: buckets larger than ``bucket_cap`` are boilerplate
       and are excluded from the self-join (bounds within-bucket pair
       growth, the round-3 14.6x 10x-scale blowup);
    2. signature-estimated Jaccard pre-filter: candidates must agree on
       >= ceil(threshold * K) signature components -- a zip_with over two
       cached K-int arrays, no shingle access;
    3. survivors verified against the compact shingle-set table
       (:func:`_shingle_sets`) instead of re-joining the exploded
       inverted index twice.
    """
    key = (
        spark.sparkContext.applicationId, sf_dir, "mh_pairs",
        threshold, num_hashes, band_size, bucket_cap,
    )
    if key not in _MH_PAIRS_MEMO:
        surv = _minhash_candidates(
            spark, sf_dir, threshold, num_hashes, band_size, bucket_cap
        )
        sets = _shingle_sets(spark, sf_dir)
        # cached verified-pair artifact, same discipline as the dfcap and
        # embedding pair tables (builds.py already lists this as a named
        # build; the memo is what actually makes later consumers --
        # leakage split, canonical select, cluster labels -- memo hits)
        _MH_PAIRS_MEMO[key] = _verify_jaccard(surv, sets, threshold).cache()
    return _MH_PAIRS_MEMO[key].orderBy("d1", "d2")


def _minhash_candidates(
    spark: SparkSession,
    sf_dir: str,
    threshold: float,
    num_hashes: int,
    band_size: int,
    bucket_cap: int,
) -> DataFrame:
    """Banded candidate pairs after guards 1+2 of :func:`minhash_lsh_pairs`
    (bucket cap + signature pre-filter), BEFORE the exact verify -- the
    candidate set every verifier variant (Jaccard, edit distance) consumes;
    mirrored by the ``cand`` CTE of :func:`_minhash_pairs_cte`. Cached:
    the banding window + bucket self-join + signature prefilter ran once
    per CONSUMING QUERY before round 10 (edit-distance, jaccard, and the
    cluster/split/canonical chain each re-ran it on every invocation)."""
    key = (
        spark.sparkContext.applicationId, sf_dir, "mh_cand",
        threshold, num_hashes, band_size, bucket_cap,
    )
    if key in _MH_CAND_MEMO:
        return _MH_CAND_MEMO[key]
    sig = _minhash_signature_cached(spark, sf_dir, num_hashes)
    n_bands = num_hashes // band_size
    band_keys = [
        F.concat_ws(
            ",",
            *[
                F.col(f"m{band * band_size + r}").cast("string")
                for r in range(band_size)
            ],
        )
        for band in range(n_bands)
    ]
    # one projection + posexplode instead of an n_bands-way union
    bands = sig.select(
        "doc_id", F.posexplode(F.array(*band_keys)).alias("band", "bkey")
    )
    from pyspark.sql import Window

    bc = F.count(F.lit(1)).over(Window.partitionBy("band", "bkey"))
    kept = (
        bands.withColumn("bc", bc).filter(F.col("bc") <= bucket_cap).drop("bc")
    )
    a, b = kept.alias("a"), kept.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )
    sigarr = sig.select(
        "doc_id", F.array(*[F.col(f"m{j}") for j in range(num_hashes)]).alias("sig")
    )
    matches = F.aggregate(
        F.zip_with(
            "sig1", "sig2", lambda x, y: F.when(x == y, F.lit(1)).otherwise(F.lit(0))
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    out = (
        cand.join(
            sigarr.select(F.col("doc_id").alias("d1"), F.col("sig").alias("sig1")), "d1"
        )
        .join(
            sigarr.select(F.col("doc_id").alias("d2"), F.col("sig").alias("sig2")), "d2"
        )
        .filter(matches >= F.lit(_min_matches(threshold, num_hashes)))
        .select("d1", "d2")
        .cache()
    )
    _MH_CAND_MEMO[key] = out
    return out


_BUCKETCAP_AUTO_MEMO: dict[tuple, DataFrame] = _memo.register({})


def minhash_lsh_pairs_bucketcap_auto(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.3,
    num_hashes: int = NUM_HASHES,
    band_size: int = BAND_SIZE,
    pairs_per_doc: int = 24,
) -> DataFrame:
    """MinHash banding where the band-bucket cap comes from the bucket-size
    histogram instead of the fixed ``BUCKET_CAP``: the largest cap whose
    cumulative within-bucket pair mass sum_{size<=cap} n_buckets(size) *
    size*(size-1)/2 stays within ``pairs_per_doc * n_docs`` -- the
    candidate join is BOUNDED LINEAR in corpus size by construction, the
    same budget discipline as :func:`ngram_jaccard_pairs_dfcap_auto`.
    Computed in-engine with exact integer arithmetic, so the oracle
    derives the identical cap. The signature pre-filter and shingle-set
    verification are unchanged. The verified pair table is memoized like
    every other derived pair artifact (_PAIRS_MEMO discipline)."""
    memo_key = (
        spark.sparkContext.applicationId, sf_dir,
        threshold, num_hashes, band_size, pairs_per_doc,
    )
    if memo_key in _BUCKETCAP_AUTO_MEMO:
        return _BUCKETCAP_AUTO_MEMO[memo_key].orderBy("d1", "d2")
    sig = _minhash_signature_cached(spark, sf_dir, num_hashes)
    n_bands = num_hashes // band_size
    band_keys = [
        F.concat_ws(
            ",",
            *[
                F.col(f"m{band * band_size + r}").cast("string")
                for r in range(band_size)
            ],
        )
        for band in range(n_bands)
    ]
    bands = sig.select(
        "doc_id", F.posexplode(F.array(*band_keys)).alias("band", "bkey")
    )
    bs = bands.groupBy("band", "bkey").agg(F.count(F.lit(1)).alias("bn"))
    hist = bs.groupBy("bn").agg(F.count(F.lit(1)).alias("cnt"))
    from pyspark.sql import Window

    # unpartitioned running frame over the OCCUPANCY HISTOGRAM (one row
    # per distinct bucket size, a few dozen rows at any corpus size) --
    # bounded input, not a corpus-sized global window
    w = Window.orderBy("bn").rowsBetween(Window.unboundedPreceding, 0)
    mass = (F.col("cnt") * F.col("bn") * (F.col("bn") - 1) / F.lit(2)).cast("long")
    cum = hist.withColumn("cum_pairs", F.sum(mass).over(w))
    n_docs = load_table(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    cap = (
        cum.crossJoin(F.broadcast(n_docs))
        .filter(F.col("cum_pairs") <= F.lit(pairs_per_doc) * F.col("n_docs"))
        .agg(F.coalesce(F.max("bn"), F.lit(1)).alias("cap"))
    )
    kept = (
        bands.join(bs, ["band", "bkey"])
        .crossJoin(F.broadcast(cap))
        .filter(F.col("bn") <= F.col("cap"))
        .select("doc_id", "band", "bkey")
    )
    a, b = kept.alias("a"), kept.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )
    sigarr = sig.select(
        "doc_id", F.array(*[F.col(f"m{j}") for j in range(num_hashes)]).alias("sig")
    )
    matches = F.aggregate(
        F.zip_with(
            "sig1", "sig2", lambda x, y: F.when(x == y, F.lit(1)).otherwise(F.lit(0))
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    surv = (
        cand.join(
            sigarr.select(F.col("doc_id").alias("d1"), F.col("sig").alias("sig1")), "d1"
        )
        .join(
            sigarr.select(F.col("doc_id").alias("d2"), F.col("sig").alias("sig2")), "d2"
        )
        .filter(matches >= F.lit(_min_matches(threshold, num_hashes)))
        .select("d1", "d2")
    )
    sets = _shingle_sets(spark, sf_dir)
    out = _verify_jaccard(surv, sets, threshold).cache()
    _BUCKETCAP_AUTO_MEMO[memo_key] = out
    return out.orderBy("d1", "d2")


def minhash_lsh_pairs_bucketcap_auto_oracle(
    threshold: float = 0.3,
    num_hashes: int = NUM_HASHES,
    band_size: int = BAND_SIZE,
    pairs_per_doc: int = 24,
) -> str:
    params = minhash_params(num_hashes)
    mins = ",\n       ".join(
        f"min(({a} * sh + {b}) % {MERSENNE31}) AS m{j}" for j, (a, b) in enumerate(params)
    )
    n_bands = num_hashes // band_size
    band_selects = []
    for band in range(n_bands):
        cols = [f"m{band * band_size + r}" for r in range(band_size)]
        key = " || ',' || ".join(f"{c}::VARCHAR" for c in cols)
        band_selects.append(f"SELECT doc_id, {band} AS band, {key} AS bkey FROM sig")
    bands = "\nUNION ALL\n".join(band_selects)
    est = " + ".join(
        f"CASE WHEN sa.m{j} = sb.m{j} THEN 1 ELSE 0 END" for j in range(num_hashes)
    )
    return f"""
WITH {_shingle_index_sql()},
sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
bands AS ({bands}),
bs AS (SELECT band, bkey, count(*) AS bn FROM bands GROUP BY 1, 2),
hist AS (SELECT bn, count(*) AS cnt FROM bs GROUP BY bn),
cum AS (SELECT bn, sum((cnt * bn * (bn - 1) / 2)::BIGINT)
                  OVER (ORDER BY bn ROWS UNBOUNDED PRECEDING) AS cum_pairs
        FROM hist),
cap AS (SELECT coalesce(max(bn), 1) AS cap FROM cum
        WHERE cum_pairs <= {pairs_per_doc} * (SELECT count(*) FROM documents)),
kept AS (SELECT b.doc_id, b.band, b.bkey
         FROM bands b JOIN bs USING (band, bkey), cap
         WHERE bs.bn <= cap.cap),
cand0 AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
          FROM kept a JOIN kept b
            ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
cand AS (SELECT d1, d2 FROM cand0
         JOIN sig sa ON sa.doc_id = d1
         JOIN sig sb ON sb.doc_id = d2
         WHERE {est} >= {_min_matches(threshold, num_hashes)}),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT d1, d2, count(*) AS c
          FROM cand JOIN sh sa ON sa.doc_id = d1
                    JOIN sh sb ON sb.doc_id = d2 AND sa.sh = sb.sh
          GROUP BY d1, d2)
SELECT d1, d2, c::DOUBLE / (s1.n + s2.n - c)::DOUBLE AS jaccard
FROM inter JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
WHERE c::DOUBLE / (s1.n + s2.n - c)::DOUBLE >= {threshold}
ORDER BY d1, d2
""".strip()


def _minhash_pairs_cte(
    threshold: float,
    num_hashes: int,
    band_size: int,
    bucket_cap: int = BUCKET_CAP,
) -> tuple[str, str]:
    """(cte_list, final_select) halves of the MinHash-LSH pairs query (a
    WITH-list and an unordered SELECT), so the clustering oracle reuses
    the CTE list structurally. Replays all three
    scale guards of :func:`minhash_lsh_pairs` (bucket cap, signature
    pre-filter, exact verify) so both engines see identical pairs."""
    params = minhash_params(num_hashes)
    mins = ",\n       ".join(
        f"min(({a} * sh + {b}) % {MERSENNE31}) AS m{j}" for j, (a, b) in enumerate(params)
    )
    n_bands = num_hashes // band_size
    band_selects = []
    for band in range(n_bands):
        cols = [f"m{band * band_size + r}" for r in range(band_size)]
        key = " || ',' || ".join(f"{c}::VARCHAR" for c in cols)
        band_selects.append(f"SELECT doc_id, {band} AS band, {key} AS bkey FROM sig")
    bands = "\nUNION ALL\n".join(band_selects)
    est = " + ".join(
        f"CASE WHEN sa.m{j} = sb.m{j} THEN 1 ELSE 0 END" for j in range(num_hashes)
    )
    ctes = f"""
{_shingle_index_sql()},
sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
bands AS ({bands}),
kept AS (SELECT doc_id, band, bkey FROM (
           SELECT doc_id, band, bkey,
                  count(*) OVER (PARTITION BY band, bkey) AS bc
           FROM bands)
         WHERE bc <= {bucket_cap}),
cand0 AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
          FROM kept a JOIN kept b
            ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
cand AS (SELECT d1, d2 FROM cand0
         JOIN sig sa ON sa.doc_id = d1
         JOIN sig sb ON sb.doc_id = d2
         WHERE {est} >= {_min_matches(threshold, num_hashes)}),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT d1, d2, count(*) AS c
          FROM cand JOIN sh sa ON sa.doc_id = d1
                    JOIN sh sb ON sb.doc_id = d2 AND sa.sh = sb.sh
          GROUP BY d1, d2)
""".strip()
    final = f"""
SELECT d1, d2, c::DOUBLE / (s1.n + s2.n - c)::DOUBLE AS jaccard
FROM inter JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
WHERE c::DOUBLE / (s1.n + s2.n - c)::DOUBLE >= {threshold}
""".strip()
    return ctes, final


def minhash_lsh_pairs_oracle(
    threshold: float = 0.3,
    num_hashes: int = NUM_HASHES,
    band_size: int = BAND_SIZE,
) -> str:
    ctes, final = _minhash_pairs_cte(threshold, num_hashes, band_size)
    return f"WITH {ctes}\n{final}\nORDER BY d1, d2"


# --------------------------------------------------------------------------
# SimHash: 16-bit sign-aggregated token-hash fingerprint + near-pair report
# --------------------------------------------------------------------------

SIMHASH_BITS = 16


def simhash_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens(F.col("text")))).alias("t")
    ).select("doc_id", hash31(F.col("t")).alias("h"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(SIMHASH_BITS)
    ]
    agg = tok.groupBy("doc_id").agg(*bit_sums)
    sim = reduce(
        lambda acc, i: acc
        + F.when(F.col(f"b{i}") >= 0, F.lit(2**i).cast("long")).otherwise(F.lit(0).cast("long")),
        range(SIMHASH_BITS),
        F.lit(0).cast("long"),
    )
    return agg.select("doc_id", sim.alias("simhash")).orderBy("doc_id")


def _simhash_body_sql() -> str:
    """Unordered (doc_id, simhash) SELECT -- the structural building block
    shared by the table oracle and both pair oracles (no rendered-string
    slicing)."""
    bit_sums = ",\n       ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(SIMHASH_BITS)
    )
    packed = " + ".join(f"(CASE WHEN b{i} >= 0 THEN {2**i} ELSE 0 END)" for i in range(SIMHASH_BITS))
    return f"""
WITH tok AS (SELECT doc_id, {hash31_sql('t')} AS h
             FROM (SELECT doc_id, unnest(list_distinct(str_split(text, ' '))) AS t
                   FROM documents)),
agg AS (SELECT doc_id, {bit_sums} FROM tok GROUP BY doc_id)
SELECT doc_id, ({packed})::BIGINT AS simhash FROM agg
""".strip()


def simhash_table_oracle() -> str:
    return f"{_simhash_body_sql()} ORDER BY doc_id"


def simhash_near_pairs(spark: SparkSession, sf_dir: str, max_hamming: int = 2) -> DataFrame:
    """Pairs whose simhash differs in <= max_hamming bits. At this fingerprint
    width a plain self-join is fine at test scale; at 100 TB you band on
    fingerprint bytes exactly like MinHash-LSH (pigeonhole: <=2 flips over 3
    bands leaves one band equal)."""
    sim = simhash_table(spark, sf_dir)
    a, b = sim.alias("a"), sim.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            ham.cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .orderBy("d1", "d2")
    )


def simhash_near_pairs_oracle(max_hamming: int = 2) -> str:
    base = _simhash_body_sql()
    return f"""
WITH sim AS ({base})
SELECT a.doc_id AS d1, b.doc_id AS d2,
       bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
FROM sim a JOIN sim b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
ORDER BY d1, d2
""".strip()



def simhash_banded_pairs(spark: SparkSession, sf_dir: str, max_hamming: int = 2) -> DataFrame:
    """The 100 TB simhash path: pigeonhole banding. Split the 16-bit
    fingerprint into 3 bands (5/5/6 bits); any pair within hamming
    distance <= 2 agrees exactly on >= 1 band, so candidates come from an
    equi-join on (band, band_value) -- never the quadratic cross join --
    and exact bit_count verification filters the survivors. Produces
    IDENTICAL rows to simhash_near_pairs (pigeonhole guarantee), which the
    shared oracle checks; unlike the quadratic form this one is benchable.
    Scale note: linearity needs band cardinality >> corpus/bucket target;
    at 16 test bits the 5-bit bands saturate quickly, so the production
    form is SIMHASH_BITS=64 with 4x16-bit bands (2^16 buckets/band) -- the
    plan shape (explode -> equi-join -> bit_count verify) is unchanged.
    """
    assert max_hamming <= 2, "3 bands guarantee recall only for <= 2 flips"
    sim = simhash_table(spark, sf_dir)
    bands = [
        (F.col("simhash").bitwiseAND(F.lit(31))),
        (F.shiftright(F.col("simhash"), 5).bitwiseAND(F.lit(31))),
        (F.shiftright(F.col("simhash"), 10).bitwiseAND(F.lit(63))),
    ]
    banded = sim.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(F.lit(i).alias("band"), bv.alias("bv"))
                for i, bv in enumerate(bands)
            ])
        ).alias("b"),
    ).select("doc_id", "simhash", F.col("b.band").alias("band"), F.col("b.bv").alias("bv"))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.col("a.simhash").alias("s1"),
            F.col("b.simhash").alias("s2"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("s1").bitwiseXOR(F.col("s2")))
    return (
        cand.select("d1", "d2", ham.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .orderBy("d1", "d2")
    )


def simhash_banded_pairs_oracle(max_hamming: int = 2) -> str:
    base = _simhash_body_sql()
    return f"""
WITH sim AS ({base}),
bands AS (
  SELECT doc_id, simhash, 0 AS band, simhash & 31 AS bv FROM sim
  UNION ALL
  SELECT doc_id, simhash, 1, (simhash >> 5) & 31 FROM sim
  UNION ALL
  SELECT doc_id, simhash, 2, (simhash >> 10) & 63 FROM sim),
cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
                a.simhash AS s1, b.simhash AS s2
         FROM bands a
         JOIN bands b ON a.band = b.band AND a.bv = b.bv
                     AND a.doc_id < b.doc_id)
SELECT d1, d2, bit_count(xor(s1, s2))::BIGINT AS hamming
FROM cand
WHERE bit_count(xor(s1, s2)) <= {max_hamming}
ORDER BY d1, d2
""".strip()


# --------------------------------------------------------------------------
# Embedding-cosine near-dup (blocked by label as the scale-path bucketing)
# --------------------------------------------------------------------------

_EMB_PAIRS_MEMO: dict[tuple[str, str, float], DataFrame] = _memo.register({})


def _neardup_blocks(df: DataFrame, block_col: str, threshold: float) -> DataFrame:
    """Per-block pair similarity: each block's vectors cross the Arrow
    boundary once; the whole pair space is a single G = U.U^T matmul."""
    import numpy as np
    import pandas as pd

    def block(pdf: "pd.DataFrame") -> "pd.DataFrame":
        ids = pdf["vec_id"].to_numpy()
        m = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(m, axis=1)
        norms[norms == 0] = 1.0
        u = m / norms[:, None]
        g = u @ u.T
        iu, ju = np.triu_indices(len(ids), k=1)
        sims = round6(g[iu, ju])
        v1 = np.minimum(ids[iu], ids[ju])
        v2 = np.maximum(ids[iu], ids[ju])
        mask = sims >= threshold
        return pd.DataFrame({"v1": v1[mask], "v2": v2[mask], "cos_sim": sims[mask]})

    return (
        df.groupBy(block_col)
        .applyInPandas(block, "v1 long, v2 long, cos_sim double")
        .orderBy("v1", "v2")
    )

def embedding_neardup(
    spark: SparkSession, sf_dir: str, threshold: float = 0.4, fast: bool = True
) -> DataFrame:
    """Pairs above a cosine-similarity threshold, blocked by label.

    TEST-ONLY ORACLE TWIN (not registered): within-label all-pairs is
    block-quadratic, and a skewed label re-creates the cartesian -- the
    registered query is the LSH-bucket-blocked :func:`embedding_neardup_lsh`.
    This form survives to cross-check the per-block matmul kernel against
    the pure-expression path (tests/test_dedup.py).

    Fast path (default): ``applyInPandas`` per block -- each block's vectors
    cross the Arrow boundary ONCE and the entire pair space is a NumPy
    G = U.U^T matmul; the expression path materializes the pair join with
    per-row interpreted folds (HigherOrderFunction lambdas are not
    codegen'd) and loses badly as the pair space grows. At 100 TB the
    blocking key is an LSH bucket / IVF cell, keeping each block's matmul
    in executor memory. Both paths agree after 6-dp rounding (tested).
    Zero vectors normalize to zero (sim 0 with everything), matching the
    unguarded-cosine exclusion below any positive threshold.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    if fast:
        # memoized: the verified pair table feeds both the pairs report and
        # the clustering query (the materialized-artifact pattern of
        # _jaccard_pairs_cached applied to the embedding modality)
        key = (spark.sparkContext.applicationId, sf_dir, threshold)
        if key not in _EMB_PAIRS_MEMO:
            _EMB_PAIRS_MEMO[key] = _neardup_blocks(
                emb.select("vec_id", "label", "embedding"), "label", threshold
            ).cache()
        return _EMB_PAIRS_MEMO[key]

    from ..functions.vector import dot, l2_norm

    v = F.col("embedding").cast("array<double>")
    n = l2_norm("embedding")
    unit = F.when(n == 0.0, v).otherwise(F.transform(v, lambda x: x / n))
    normed = emb.select("vec_id", "label", unit.alias("u"))
    a, b = normed.alias("a"), normed.alias("b")
    sim = normalize_float(dot("a.u", "b.u"), 6)
    return (
        a.join(b, (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(
            F.col("a.vec_id").alias("v1"),
            F.col("b.vec_id").alias("v2"),
            sim.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
        .orderBy("v1", "v2")
    )


def embedding_neardup_lsh(spark: SparkSession, sf_dir: str, threshold: float = 0.3) -> DataFrame:
    """Near-dup pairs blocked by the sign-bit LSH bucket -- the label-free
    scale path (no supervision needed): candidate pairs only form inside a
    bucket, so the pair space is sum over buckets of n_b^2 instead of n^2.
    Same per-block matmul kernel as the label-blocked variant; pairs whose
    similarity straddles buckets are the recall trade-off (dial with
    multi-probe banding exactly as in search). Memoized per (app, sf_dir,
    threshold) like the label-blocked twin: the verified pair table feeds
    both the pairs report and the clustering query.
    """
    from .lsh import index_table

    key = (spark.sparkContext.applicationId, sf_dir, threshold, "lsh")
    if key not in _EMB_PAIRS_MEMO:
        emb = index_table(spark, sf_dir)
        _EMB_PAIRS_MEMO[key] = _neardup_blocks(
            emb.select("vec_id", F.col("bucket"), "embedding"), "bucket", threshold
        ).cache()
    return _EMB_PAIRS_MEMO[key]


def _embedding_lsh_pairs_cte(threshold: float) -> tuple[str, str]:
    """(cte_body, final_select) halves of the LSH-blocked embedding pair
    SQL, shared by the pairs report and the clustering oracle."""
    from .lsh import bucket_sql

    norm = "sqrt(list_inner_product(v, v))"
    ctes = f"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                  {bucket_sql('embedding::DOUBLE[]')} AS b
           FROM embeddings),
n AS (SELECT vec_id, b,
             CASE WHEN {norm} = 0 THEN v
                  ELSE list_transform(v, x -> x / {norm}) END AS u
      FROM e)"""
    final = f"""SELECT a.vec_id AS v1, b.vec_id AS v2,
       (round(list_inner_product(a.u, b.u), 6) + 0.0) AS cos_sim
FROM n a JOIN n b ON a.b = b.b AND a.vec_id < b.vec_id
WHERE (round(list_inner_product(a.u, b.u), 6) + 0.0) >= {threshold}"""
    return ctes, final


def embedding_neardup_lsh_oracle(threshold: float = 0.3) -> str:
    ctes, final = _embedding_lsh_pairs_cte(threshold)
    return f"WITH {ctes}\n{final}\nORDER BY v1, v2"


_DFCAP_PAIRS_MEMO: dict[tuple[str, str, float, int], DataFrame] = _memo.register({})


def _dfcap_pairs_cached(
    spark: SparkSession, sf_dir: str, threshold: float, max_df: int
) -> DataFrame:
    """Memoized df-capped verified pair table (d1, d2, jaccard) -- the
    flagship near-dup pair artifact shared by the pairs report, the
    clustering query, and the corpus-prep drop set (same fan-out as the
    uncapped `_jaccard_pairs_cached`, which survives as the test-only
    recall cross-check)."""
    key = (spark.sparkContext.applicationId, sf_dir, threshold, max_df)
    if key in _DFCAP_PAIRS_MEMO:
        return _DFCAP_PAIRS_MEMO[key]
    sh = _shingle_index(spark, sf_dir)
    df_counts = _shingle_df_counts(spark, sf_dir)
    rare = sh.join(
        F.broadcast(df_counts.filter(F.col("df") <= max_df).select("sh")), "sh"
    )
    a, b = rare.alias("a"), rare.alias("b")
    cand = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )
    sets = _shingle_sets(spark, sf_dir)
    out = _verify_jaccard(cand, sets, threshold).cache()
    _DFCAP_PAIRS_MEMO[key] = out
    return out


def ngram_jaccard_pairs_dfcap(
    spark: SparkSession, sf_dir: str, threshold: float = 0.3, max_df: int = 3
) -> DataFrame:
    """The 100 TB form of the Jaccard near-dup: candidate pairs come ONLY
    from shingles with document frequency <= max_df (hot shingles carry no
    discriminative signal and create quadratic join keys), but the Jaccard
    itself is still computed over the FULL shingle sets of each candidate
    pair -- exact similarity, df-capped candidate generation. Pairs sharing
    only hot shingles are the (deliberate, tunable) recall trade-off.
    Verification reads the compact shingle-set table, not the exploded
    index (see :func:`_shingle_sets`).
    """
    return _dfcap_pairs_cached(spark, sf_dir, threshold, max_df).orderBy("d1", "d2")


def minhash_lsh_pairs_autotuned(
    spark: SparkSession, sf_dir: str, threshold: float = 0.5, max_hashes: int = 16
) -> DataFrame:
    """MinHash-LSH with the banding scheme derived from the target
    threshold by s-curve inversion (see :func:`autotune_bands`) instead of
    hand-picked constants -- at 100 TB the threshold is the product
    requirement and (b, r) is an implementation detail the engine owns.
    Deterministic given (threshold, max_hashes), so the oracle replays the
    identical scheme.
    """
    b, r = autotune_bands(threshold, max_hashes)
    return minhash_lsh_pairs(spark, sf_dir, threshold, num_hashes=b * r, band_size=r)


def minhash_lsh_pairs_autotuned_oracle(threshold: float = 0.5, max_hashes: int = 16) -> str:
    b, r = autotune_bands(threshold, max_hashes)
    return minhash_lsh_pairs_oracle(threshold, num_hashes=b * r, band_size=r)


_DFCAP_AUTO_MEMO: dict[tuple[str, str, float, int], DataFrame] = _memo.register({})


def ngram_jaccard_pairs_dfcap_auto(
    spark: SparkSession, sf_dir: str, threshold: float = 0.3, pairs_per_doc: int = 24
) -> DataFrame:
    """df-capped Jaccard where the cap comes from the shingle df histogram:
    the largest cap whose cumulative candidate-pair mass
    sum_{df<=cap} n_shingles(df) * df*(df-1)/2 stays within
    pairs_per_doc * n_docs -- i.e. the candidate join is BOUNDED LINEAR in
    corpus size by construction, which is the property that must hold at
    100 TB (a quantile rule fails on repetitive corpora where even the
    median shingle is hot). Computed IN-ENGINE with exact integer
    arithmetic (histogram is tiny: one row per distinct df), so the oracle
    derives the identical cap and the query is a one-shot plan with no
    driver round-trip. The verified pair table is memoized + cached like
    the fixed-cap flagship's (`_dfcap_pairs_cached`): it is the same
    derived artifact, keyed by the budget instead of the cap.
    """
    from pyspark.sql import Window

    key = (spark.sparkContext.applicationId, sf_dir, threshold, pairs_per_doc)
    if key in _DFCAP_AUTO_MEMO:
        return _DFCAP_AUTO_MEMO[key].orderBy("d1", "d2")

    sh = _shingle_index(spark, sf_dir)
    docs_n = load_table(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    df_counts = _shingle_df_counts(spark, sf_dir)
    hist = df_counts.groupBy("df").agg(F.count(F.lit(1)).alias("cnt"))
    # unpartitioned running frame over the DF HISTOGRAM (one row per
    # distinct document-frequency value -- bounded, never corpus-sized)
    w = Window.orderBy("df").rowsBetween(Window.unboundedPreceding, 0)
    mass = (F.col("cnt") * F.col("df") * (F.col("df") - 1) / F.lit(2)).cast("long")
    cum = hist.withColumn("cum_pairs", F.sum(mass).over(w))
    cap = (
        cum.crossJoin(F.broadcast(docs_n))
        .filter(F.col("cum_pairs") <= F.lit(pairs_per_doc) * F.col("n_docs"))
        .agg(F.coalesce(F.max("df"), F.lit(1)).alias("cap"))
    )
    rare = df_counts.crossJoin(F.broadcast(cap)).filter(F.col("df") <= F.col("cap")).select("sh")
    rare_sh = sh.join(F.broadcast(rare), "sh")
    a, b = rare_sh.alias("a"), rare_sh.alias("b")
    cand = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )
    sets = _shingle_sets(spark, sf_dir)
    out = _verify_jaccard(cand, sets, threshold).cache()
    _DFCAP_AUTO_MEMO[key] = out
    return out.orderBy("d1", "d2")


def ngram_jaccard_pairs_dfcap_auto_oracle(
    threshold: float = 0.3, pairs_per_doc: int = 24
) -> str:
    return f"""
WITH {_shingle_index_sql()},
dfh AS (SELECT sh, count(*) AS df FROM sh GROUP BY sh),
hist AS (SELECT df, count(*) AS cnt FROM dfh GROUP BY df),
cum AS (SELECT df, sum((cnt * df * (df - 1) / 2)::BIGINT)
                   OVER (ORDER BY df ROWS UNBOUNDED PRECEDING) AS cum_pairs
        FROM hist),
cap AS (SELECT coalesce(max(df), 1) AS cap FROM cum
        WHERE cum_pairs <= {pairs_per_doc} * (SELECT count(*) FROM documents)),
rare AS (SELECT s.doc_id, s.sh FROM sh s JOIN dfh USING (sh), cap WHERE dfh.df <= cap.cap),
cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         FROM rare a JOIN rare b ON a.sh = b.sh AND a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT d1, d2, count(*) AS c
          FROM cand JOIN sh sa ON sa.doc_id = d1
                    JOIN sh sb ON sb.doc_id = d2 AND sa.sh = sb.sh
          GROUP BY d1, d2)
SELECT d1, d2, c::DOUBLE / (s1.n + s2.n - c)::DOUBLE AS jaccard
FROM inter JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
WHERE c::DOUBLE / (s1.n + s2.n - c)::DOUBLE >= {threshold}
ORDER BY d1, d2
""".strip()


# --------------------------------------------------------------------------
# Connected components over the near-dup pair graph: the step that turns
# pairwise similarity into dedup DECISIONS (keep one representative per
# cluster). Iterative min-label propagation in Spark; transitive-closure
# recursive CTE in the oracle -- both converge to rep = min(doc_id in
# component), so the outputs are hash-identical.
# --------------------------------------------------------------------------

_CLUSTER_MEMO: dict[tuple[str, str, float, str], DataFrame] = _memo.register({})


def _clusters_cached(
    spark: SparkSession,
    sf_dir: str,
    threshold: float,
    kind: str,
    pairs: DataFrame,
    backend=None,
) -> DataFrame:
    """Memoized connected-components labels for a pair graph. The
    label-propagation/star loops run full Spark jobs per round (count()
    for the convergence check), so re-running them on every call dominated
    the clustering queries' warm cost; the label table is tiny (one row
    per near-dup doc) and static per (sf_dir, threshold), so cache the
    converged result like the pair table it derives from."""
    key = (spark.sparkContext.applicationId, sf_dir, threshold, kind)
    if key not in _CLUSTER_MEMO:
        fn = backend if backend is not None else connected_components
        _CLUSTER_MEMO[key] = fn(pairs).cache()
    return _CLUSTER_MEMO[key]


def neardup_clusters(spark: SparkSession, sf_dir: str, threshold: float = 0.3) -> DataFrame:
    """Connected components of the n-gram Jaccard near-dup graph.

    Returns (doc_id, cluster_rep) for every document that appears in at
    least one near-dup pair; cluster_rep is the minimum doc_id reachable
    through the pair graph, so "keep rep, drop the rest" is a deterministic
    dedup policy. Spark side: iterative min-label propagation -- each round
    every node takes min(own label, neighbors' labels); rounds needed =
    graph diameter. localCheckpoint() per round truncates the lineage so
    the plan does not grow with iterations. At 100 TB the same loop holds
    (near-dup components are overwhelmingly tiny -- pairs/triples -- so
    diameter is small); for adversarial long-chain graphs the drop-in
    upgrade is :func:`connected_components_star` (alternating
    large-star/small-star, Kiveris et al., "Connected Components in
    MapReduce and Beyond"), which converges in O(log^2 n) rounds with the
    same (node, label) output contract -- equality property-tested.
    """
    pairs = ngram_jaccard_pairs_dfcap(spark, sf_dir, threshold).select("d1", "d2")
    return _clusters_cached(spark, sf_dir, threshold, "jaccard", pairs).select(
        F.col("node").alias("doc_id"), "cluster_rep"
    ).orderBy("doc_id")


def connected_components(pairs: DataFrame) -> DataFrame:
    """(node, cluster_rep) for every node of an undirected pair list
    (columns d1, d2); cluster_rep = min node id reachable. Iterative
    min-label propagation; see :func:`neardup_clusters` for the scale
    discussion."""
    edges = pairs.select("d1", "d2").unionAll(
        pairs.select(F.col("d2").alias("d1"), F.col("d1").alias("d2"))
    ).localCheckpoint()
    labels = (
        edges.select(F.col("d1").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    while True:
        nbr_min = (
            edges.join(
                labels.select(F.col("node").alias("d2"), "label"), "d2"
            )
            .groupBy("d1")
            .agg(F.min("label").alias("nbr_min"))
        )
        updated = (
            labels.join(nbr_min, labels["node"] == nbr_min["d1"], "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_min"), F.col("label"))
                ).alias("label"),
                F.col("label").alias("prev"),
            )
            .localCheckpoint()
        )
        changed = updated.filter(F.col("label") != F.col("prev")).count()
        labels = updated.select("node", "label")
        if changed == 0:
            break
    return labels.select("node", F.col("label").alias("cluster_rep"))


def neardup_clusters_star(
    spark: SparkSession, sf_dir: str, threshold: float = 0.3
) -> DataFrame:
    """:func:`neardup_clusters` served by the large-star/small-star
    backend -- the adversarial-diameter form under the same oracle (the
    two algorithms provably produce identical (doc_id, cluster_rep)
    labelings, so the recursive-CTE clustering oracle gates both)."""
    pairs = ngram_jaccard_pairs_dfcap(spark, sf_dir, threshold).select("d1", "d2")
    return (
        _clusters_cached(
            spark, sf_dir, threshold, "star", pairs, backend=connected_components_star
        )
        .select(F.col("node").alias("doc_id"), "cluster_rep")
        .orderBy("doc_id")
    )


def connected_components_star(pairs: DataFrame, max_rounds: int = 60) -> DataFrame:
    """Alternating large-star/small-star connected components (Kiveris et
    al., "Connected Components in MapReduce and Beyond", 2014) -- the
    O(log^2 n)-round drop-in documented as :func:`connected_components`'s
    upgrade path for adversarial long-chain graphs, where min-label
    propagation needs one round per unit of component diameter. Same
    (node, cluster_rep) output contract; equality with the propagation
    form is property-tested on random graphs and pinned on a path graph.

    Per round (each a groupBy + join over the current edge list, nothing
    proportional to component size in one task):
      large-star: for every node u with m = min(neighbors(u) + {u}),
                  re-attach every STRICTLY LARGER neighbor to m;
      small-star: re-attach every neighbor <= u (and u itself) to m.
    Edges stay canonical (a < b); convergence = the edge set is a fixed
    point, at which every edge is (component-min, member)."""
    edges = (
        pairs.select(
            F.least("d1", "d2").alias("a"), F.greatest("d1", "d2").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )

    def _adj(e: DataFrame) -> DataFrame:
        return e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
            e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )

    def _mins(adj: DataFrame) -> DataFrame:
        return adj.groupBy("u").agg(F.min("v").alias("_mv")).select(
            "u", F.least("_mv", "u").alias("m")
        )

    def _canon(e: DataFrame) -> DataFrame:
        return (
            e.select(F.least("d1", "d2").alias("a"), F.greatest("d1", "d2").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )

    converged = False
    for _ in range(max_rounds):
        adj = _adj(edges)
        mins = _mins(adj)
        large = (
            adj.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("d1"), F.col("m").alias("d2"))
        )
        edges_l = _canon(large).localCheckpoint()

        adj = _adj(edges_l)
        mins = _mins(adj)
        small = (
            adj.join(mins, "u")
            .filter(F.col("v") <= F.col("u"))
            .select(F.col("v").alias("d1"), F.col("m").alias("d2"))
            .unionAll(
                mins.select(F.col("u").alias("d1"), F.col("m").alias("d2"))
            )
        )
        new_edges = _canon(small).localCheckpoint()

        if (
            new_edges.count() == edges.count()
            and new_edges.subtract(edges).limit(1).count() == 0
        ):
            edges = new_edges
            converged = True
            break
        edges = new_edges

    if not converged:
        # The label-emission step below assumes the fixed point (every edge
        # is (component-min, member)); on non-convergence a node could get
        # multiple cluster_rep rows or a non-minimal rep with no error --
        # a silent wrong answer. Fail loudly instead: max_rounds is
        # O(log^2 n), so exhausting it means the input is pathological.
        raise RuntimeError(
            f"connected_components_star did not reach a fixed point in "
            f"{max_rounds} rounds; labels would be unreliable"
        )

    # fixed point: every edge is (component_min, member)
    return (
        edges.select(F.col("b").alias("node"), F.col("a").alias("cluster_rep"))
        .unionAll(edges.select(F.col("a").alias("node"), F.col("a").alias("cluster_rep")))
        .distinct()
    )


def _cluster_tail(id_alias: str = "doc_id") -> str:
    """Transitive-closure clustering over a ``pairs(d1, d2)`` CTE; the id
    column is aliased per entity kind (doc_id for text graphs, vec_id for
    embedding graphs)."""
    return f"""
edges AS (SELECT d1 AS a, d2 AS b FROM pairs
          UNION ALL
          SELECT d2, d1 FROM pairs),
reach(a, b) AS (SELECT a, b FROM edges
                UNION
                SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
SELECT a AS {id_alias}, least(a, min(b)) AS cluster_rep
FROM reach GROUP BY a ORDER BY {id_alias}
""".strip()


_CLUSTER_TAIL = _cluster_tail("doc_id")


def neardup_clusters_oracle(threshold: float = 0.3) -> str:
    ctes, final = _dfcap_pairs_cte(threshold)
    return f"WITH RECURSIVE {ctes},\npairs AS ({final}),\n{_CLUSTER_TAIL}"


def neardup_clusters_minhash(
    spark: SparkSession, sf_dir: str, threshold: float = 0.3
) -> DataFrame:
    """Connected components over the MinHash-LSH pair graph -- the
    composition a 100 TB dedup job actually runs (candidate generation by
    banding, exact verify, then clustering), where the exact all-pairs
    graph behind :func:`neardup_clusters` is unaffordable. Same min-label
    propagation; the oracle replays the full banding scheme inside the
    recursive-CTE clustering."""
    pairs = minhash_lsh_pairs(spark, sf_dir, threshold).select("d1", "d2")
    return _clusters_cached(spark, sf_dir, threshold, "minhash", pairs).select(
        F.col("node").alias("doc_id"), "cluster_rep"
    ).orderBy("doc_id")


def neardup_clusters_minhash_oracle(
    threshold: float = 0.3,
    num_hashes: int = NUM_HASHES,
    band_size: int = BAND_SIZE,
) -> str:
    ctes, final = _minhash_pairs_cte(threshold, num_hashes, band_size)
    return f"WITH RECURSIVE {ctes},\npairs AS ({final}),\n{_CLUSTER_TAIL}"


def _dfcap_pairs_cte(threshold: float = 0.3, max_df: int = 3) -> tuple[str, str]:
    """(cte_list, final_select) halves of the df-capped Jaccard pairs
    query (a WITH-list and an unordered SELECT), so the clustering and
    corpus-prep oracles compose the flagship capped form instead of the
    uncapped self-join."""
    ctes = f"""
{_shingle_index_sql()},
dfc AS (SELECT sh FROM (SELECT sh, count(*) AS df FROM sh GROUP BY sh) WHERE df <= {max_df}),
rare AS (SELECT s.doc_id, s.sh FROM sh s JOIN dfc USING (sh)),
cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         FROM rare a JOIN rare b ON a.sh = b.sh AND a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT d1, d2, count(*) AS c
          FROM cand JOIN sh sa ON sa.doc_id = d1
                    JOIN sh sb ON sb.doc_id = d2 AND sa.sh = sb.sh
          GROUP BY d1, d2)
""".strip()
    final = f"""
SELECT d1, d2, c::DOUBLE / (s1.n + s2.n - c)::DOUBLE AS jaccard
FROM inter JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
WHERE c::DOUBLE / (s1.n + s2.n - c)::DOUBLE >= {threshold}
""".strip()
    return ctes, final


def ngram_jaccard_pairs_dfcap_oracle(threshold: float = 0.3, max_df: int = 3) -> str:
    ctes, final = _dfcap_pairs_cte(threshold, max_df)
    return f"WITH {ctes}\n{final}\nORDER BY d1, d2"


# --------------------------------------------------------------------------
# Normalized exact dedup: casefold + strip punctuation + collapse whitespace
# before hashing, so trivially-reformatted copies collapse to one group
# (the standard step between byte-exact and fuzzy dedup).
# --------------------------------------------------------------------------

def exact_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on a normalized text key. The normalization (lowercase,
    drop non-alphanumerics, collapse runs of whitespace, trim) spells the
    whitespace class out as [ \\t\\n\\r\\f] rather than \\s: Java regex
    counts vertical tab (\\x0B) in \\s while RE2 does not, so the shorthand
    would collapse-to-space in Spark but delete in DuckDB, diverging the
    md5 grouping key. Same shuffle discipline as exact_dedup: the md5 of
    the normalized text is the grouping key, so the exchange moves 32-byte
    digests regardless of document size.
    """
    docs = load_table(spark, sf_dir, "documents")
    ws = "[ \\t\\n\\r\\f]"
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 \\t\\n\\r\\f]", ""),
            f"{ws}+",
            " ",
        )
    )
    return (
        docs.select(F.md5(norm).alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.min("doc_id").alias("rep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("rep_doc_id", "n_copies")
        .orderBy("rep_doc_id")
    )


def exact_dedup_normalized_oracle() -> str:
    norm = (
        "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 \\t\\n\\r\\f]', '', 'g'), "
        "'[ \\t\\n\\r\\f]+', ' ', 'g'))"
    )
    return f"""
SELECT min(doc_id) AS rep_doc_id, count(*) AS n_copies
FROM documents GROUP BY md5({norm}) ORDER BY rep_doc_id
""".strip()


def embedding_neardup_clusters(
    spark: SparkSession, sf_dir: str, threshold: float = 0.4
) -> DataFrame:
    """Connected components over the LSH-blocked embedding-cosine pair
    graph -- semantic dedup decisions (keep min vec_id per component),
    completing the pairs -> clusters composition for the embedding modality
    exactly as :func:`neardup_clusters` does for text. Sits on the
    LSH-bucket-blocked pair table (the skew-safe scale path), not the
    label-blocked twin."""
    pairs = embedding_neardup_lsh(spark, sf_dir, threshold).select(
        F.col("v1").alias("d1"), F.col("v2").alias("d2")
    )
    return _clusters_cached(spark, sf_dir, threshold, "embedding_lsh", pairs).select(
        F.col("node").alias("vec_id"), "cluster_rep"
    ).orderBy("vec_id")


def embedding_neardup_clusters_oracle(threshold: float = 0.4) -> str:
    ctes, final = _embedding_lsh_pairs_cte(threshold)
    return (
        f"WITH RECURSIVE {ctes},\n"
        f"pairs AS (SELECT v1 AS d1, v2 AS d2 FROM ({final}) t),\n"
        f"{_cluster_tail('vec_id')}"
    )


# --------------------------------------------------------------------------
# Incremental ingestion dedup: classify a DELTA batch of documents against
# the already-ingested BASE corpus -- the operation a production pipeline
# runs per arriving shard, where re-deduplicating the full corpus is
# unaffordable. Verdict priority: exact duplicate (of base, or of an
# earlier delta doc) > near-duplicate (shingle Jaccard vs base or earlier
# delta) > new. The delta is a fixed deterministic slice here (doc_id mod
# 10 in {8, 9}); in production it is the arriving partition.
#
# Scale shape: the delta is small relative to base, so every join below is
# a broadcast of delta-side keys against the base scan / shingle index --
# no base-sized shuffle. The base md5 set and shingle index are the
# persisted artifacts exact_dedup / ngram_jaccard already maintain.
# --------------------------------------------------------------------------

INGEST_DELTA_MOD = 10
INGEST_DELTA_BUCKETS = (8, 9)  # doc_id % 10 in {8,9} -> the arriving 20%


def _ingest_split(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    is_delta = (F.col("doc_id") % INGEST_DELTA_MOD).isin(*INGEST_DELTA_BUCKETS)
    return docs.filter(~is_delta), docs.filter(is_delta)


def incremental_ingest_dedup(
    spark: SparkSession, sf_dir: str, threshold: float = 0.3, max_df: int = 3
) -> DataFrame:
    """(doc_id, verdict) for every delta document: 'exact_dup',
    'near_dup', or 'new'. Near-dup candidates come from df-capped shingles
    only (same discipline as the flagship pairs query -- a hot boilerplate
    shingle would otherwise join every delta doc against the whole base);
    verification is exact Jaccard over full shingle sets."""
    base, delta = _ingest_split(spark, sf_dir)
    sh = _shingle_index(spark, sf_dir)
    is_delta_id = (F.col("doc_id") % INGEST_DELTA_MOD).isin(*INGEST_DELTA_BUCKETS)

    base_h = base.select(F.md5("text").alias("h"))
    delta_h = delta.select("doc_id", F.md5("text").alias("h"))
    # exact vs base, or vs an earlier delta doc with the same text
    exact_vs_base = delta_h.join(base_h, "h", "left_semi")
    first_delta = delta_h.groupBy("h").agg(F.min("doc_id").alias("first_id"))
    exact_vs_delta = delta_h.join(first_delta, "h").filter(
        F.col("doc_id") > F.col("first_id")
    )
    exact_ids = (
        exact_vs_base.select("doc_id")
        .unionAll(exact_vs_delta.select("doc_id"))
        .distinct()
    )

    # near-dup: Jaccard >= threshold against base or an earlier delta doc.
    # Candidates form only on shared RARE shingles (df-capped inverted-index
    # discipline, no delta x base cross join, no hot-shingle quadratic key);
    # the d2 > d1 guard keeps earlier docs only.
    df_counts = _shingle_df_counts(spark, sf_dir)
    rare = sh.join(
        F.broadcast(df_counts.filter(F.col("df") <= max_df).select("sh")), "sh"
    )
    a, b = rare.alias("a"), rare.filter(is_delta_id).alias("b")
    cand = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )
    sets = _shingle_sets(spark, sf_dir)
    near_ids = (
        _verify_jaccard(cand, sets, threshold)
        .select(F.col("d2").alias("doc_id"))
        .distinct()
    )

    verdict = (
        F.when(F.col("is_exact"), F.lit("exact_dup"))
        .when(F.col("is_near"), F.lit("near_dup"))
        .otherwise(F.lit("new"))
    )
    return (
        delta.select("doc_id")
        .join(exact_ids.withColumn("is_exact", F.lit(True)), "doc_id", "left")
        .join(near_ids.withColumn("is_near", F.lit(True)), "doc_id", "left")
        .select(
            "doc_id",
            verdict.alias("verdict"),
        )
        .orderBy("doc_id")
    )


def incremental_ingest_dedup_oracle(threshold: float = 0.3, max_df: int = 3) -> str:
    bkts = ", ".join(str(b) for b in INGEST_DELTA_BUCKETS)
    return f"""
WITH {_shingle_index_sql()},
delta AS (SELECT doc_id, text FROM documents
          WHERE doc_id % {INGEST_DELTA_MOD} IN ({bkts})),
base AS (SELECT doc_id, text FROM documents
         WHERE doc_id % {INGEST_DELTA_MOD} NOT IN ({bkts})),
dh AS (SELECT doc_id, md5(text) AS h FROM delta),
exact_ids AS (
  SELECT DISTINCT doc_id FROM (
    SELECT d.doc_id FROM dh d JOIN (SELECT md5(text) AS h FROM base) b USING (h)
    UNION ALL
    SELECT d.doc_id FROM dh d
    JOIN (SELECT h, min(doc_id) AS first_id FROM dh GROUP BY h) f USING (h)
    WHERE d.doc_id > f.first_id) t),
dfc AS (SELECT sh FROM (SELECT sh, count(*) AS df FROM sh GROUP BY sh) WHERE df <= {max_df}),
rare AS (SELECT s.doc_id, s.sh FROM sh s JOIN dfc USING (sh)),
cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         FROM rare a JOIN rare b ON a.sh = b.sh AND a.doc_id < b.doc_id
         WHERE b.doc_id % {INGEST_DELTA_MOD} IN ({bkts})),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT d1, d2, count(*) AS c
          FROM cand JOIN sh sa ON sa.doc_id = d1
                    JOIN sh sb ON sb.doc_id = d2 AND sa.sh = sb.sh
          GROUP BY d1, d2),
near_ids AS (
  SELECT DISTINCT d2 AS doc_id
  FROM inter JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
  WHERE c::DOUBLE / (s1.n + s2.n - c)::DOUBLE >= {threshold})
SELECT d.doc_id,
       CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
            WHEN n.doc_id IS NOT NULL THEN 'near_dup'
            ELSE 'new' END AS verdict
FROM delta d
LEFT JOIN exact_ids e ON d.doc_id = e.doc_id
LEFT JOIN near_ids n ON d.doc_id = n.doc_id
ORDER BY d.doc_id
""".strip()


# --------------------------------------------------------------------------
# Cross-document repeated-SUBSTRING spans (the exact-substring dedup of
# Lee et al. 2022, "Deduplicating Training Data Makes Language Models
# Better"): find, per document, the maximal contiguous character spans
# covered by K_SPAN-char substrings that also occur in another document.
# Their single-node tool is a suffix array; the distributed re-expression
# is positional k-grams + an interval merge:
#
#   1. expand each doc into (doc_id, pos, hash(window at pos)) -- an
#      Arrow NumPy rolling-hash kernel, O(K*len) per doc (the declarative
#      substring twin is O(len^2): Spark seeks UTF8Strings per call); the
#      shuffle moves 8-byte hashes, never the text (exact_dedup
#      discipline),
#   2. keep positions whose gram occurs in >= 2 DISTINCT documents --
#      computed INSIDE the one gram shuffle: ">= 2 distinct docs" is
#      exactly min(doc_id) != max(doc_id), two unordered aggregates in a
#      single WindowExec whose exchange sorts on gh alone,
#   3. merge overlapping/adjacent fixed-length intervals per doc with the
#      gaps-and-islands window (new island when the position gap exceeds
#      K): per-doc windows are bounded by document length, so the only
#      corpus-sized shuffle is the gh window exchange.
#
# At 100 TB step 2's grams-with-df>=2 set is exactly what a count-min /
# Bloom pre-filter prunes up front (operators/bloom.py); a pathological
# gram shared by every document concentrates its positions in one gh
# partition -- the same hot-bucket exposure the banding BUCKET_CAP guards,
# and the same cap applies if a corpus needs it. The per-doc interval
# merge never leaves the document. Output per affected doc: span count,
# longest span, repeated-char mass and fraction.
# --------------------------------------------------------------------------

K_SPAN = 20  # characters

# Rolling-hash base for the Arrow gram kernel: FNV-1a's 64-bit prime (odd,
# good avalanche over mod-2^64 polynomial evaluation).
_GRAM_HASH_BASE = 1099511628211


def _positional_grams_arrow(docs: DataFrame) -> DataFrame:
    """``(doc_id, n_chars, pos, gh)`` for every K_SPAN-char window, via an
    Arrow ``mapInPandas`` NumPy rolling-polynomial kernel.

    Why not the declarative ``xxhash64(substring(text, pos, K))`` twin
    (:func:`_positional_grams_declarative`): Spark's ``substring`` seeks
    the UTF8String from the start on EVERY call (chars != bytes), so
    exploding one substring per position costs O(len^2) per document --
    measured 1.74s of the query's 2.7s warm at sf0.1. The kernel decodes
    each text to a codepoint array once (utf-32-le view, exact char
    positions) and evaluates all window hashes with K vectorized
    multiply-adds: O(K*len), 0.67s for the same grams. The hash is a
    purely INTERNAL grouping key (never output), so only "same substring
    => same key" matters, not cross-engine hash equality; a mod-2^64
    polynomial collision between two DIFFERENT 20-char windows requires an
    exactly compensating digit combination -- not a property natural text
    has, and tests pin kernel/declarative hit-set equality.
    """
    import numpy as np
    import pandas as pd

    K = K_SPAN
    B = np.uint64(_GRAM_HASH_BASE)

    def gen(batches):
        for pdf in batches:
            ids, ncs, poss, hs = [], [], [], []
            for doc_id, n_chars, text in zip(
                pdf["doc_id"], pdf["n_chars"], pdf["text"]
            ):
                if text is None:
                    continue
                cp = (
                    np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32)
                    .astype(np.uint64)
                )
                m = cp.shape[0] - K + 1
                if m < 1:
                    continue
                h = np.zeros(m, dtype=np.uint64)
                for j in range(K):
                    h = h * B + cp[j : j + m]
                ids.append(np.full(m, doc_id, dtype=np.int64))
                ncs.append(np.full(m, n_chars, dtype=np.int64))
                poss.append(np.arange(1, m + 1, dtype=np.int64))
                hs.append(h.view(np.int64))
            if ids:
                yield pd.DataFrame(
                    {
                        "doc_id": np.concatenate(ids),
                        "n_chars": np.concatenate(ncs),
                        "pos": np.concatenate(poss),
                        "gh": np.concatenate(hs),
                    }
                )

    return docs.mapInPandas(gen, schema="doc_id long, n_chars long, pos long, gh long")


def _positional_grams_declarative(docs: DataFrame) -> DataFrame:
    """Declarative twin of :func:`_positional_grams_arrow` (repo
    discipline: every Arrow kernel has a built-in-functions twin under the
    same downstream oracle). Same schema; `gh` values differ (xxhash64 vs
    rolling polynomial) but the induced gram partition is identical, which
    is all any consumer uses -- tests/test_dedup.py pins the resulting
    df>=2 hit sets equal."""
    return docs.select(
        "doc_id",
        "n_chars",
        # a doc shorter than one gram contributes nothing upstream; the
        # n_chars >= K_SPAN filter also keeps F.sequence ascending
        F.explode(
            F.sequence(F.lit(1), F.col("n_chars") - F.lit(K_SPAN - 1))
        ).alias("pos"),
        "text",
    ).select(
        "doc_id",
        "n_chars",
        "pos",
        F.xxhash64(F.substring(F.col("text"), F.col("pos"), K_SPAN)).alias("gh"),
    )


_GRAMS_MEMO: dict[tuple, DataFrame] = _memo.register({})


def _positional_grams_cached(
    spark: SparkSession, sf_dir: str, use_arrow: bool = True
) -> DataFrame:
    """The positional k-gram table as a cached artifact -- the distributed
    analog of the suffix-array index Lee et al.'s single-node tool builds
    once and queries many times, and the same materialize-once discipline
    as the shingle index. Both consumers of the span query (the df>=2
    aggregate and the position stream it filters) read this one
    materialization instead of re-running the O(K*len) rolling-hash kernel
    per reference."""
    key = (spark.sparkContext.applicationId, sf_dir, "pos_grams", use_arrow)
    if key not in _GRAMS_MEMO:
        docs = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text", "n_chars")
            .filter(F.col("n_chars") >= K_SPAN)
        )
        gram_fn = (
            _positional_grams_arrow if use_arrow else _positional_grams_declarative
        )
        _GRAMS_MEMO[key] = gram_fn(docs).cache()
    return _GRAMS_MEMO[key]


def repeated_substring_spans(
    spark: SparkSession, sf_dir: str, use_arrow: bool = True
) -> DataFrame:
    from pyspark.sql import Window

    grams = _positional_grams_cached(spark, sf_dir, use_arrow)
    # Cross-doc document-frequency test as a PARTIAL-AGGREGABLE groupBy:
    # "occurs in >= 2 distinct documents" is exactly min(doc_id) !=
    # max(doc_id) per gh, and min/max combine map-side, so the only
    # corpus-sized exchange carries one (gh, min, max) partial per
    # map-partition-distinct gh -- and, decisively, feeds a HASH aggregate
    # instead of the pre-round-10 WindowExec, whose exchange moved EVERY
    # positional gram row and then SORTED the full gram table by gh
    # (measured 3.65s warm at sf0.1; VERDICT r9 next-round item 4). The
    # small df>=2 gh set then broadcast-semi-joins back onto the cached
    # gram table, so hit positions never shuffle at all -- the guide §3.2
    # exact-set Bloom substitute (the keys fit; a production corpus with a
    # pathological hit-gh set swaps this broadcast for the Bloom filter in
    # operators/bloom.py, same plan shape).
    cross_gh = (
        grams.groupBy("gh")
        .agg(F.min("doc_id").alias("d_min"), F.max("doc_id").alias("d_max"))
        .filter(F.col("d_min") != F.col("d_max"))
        .select("gh")
    )
    hits = (
        grams
        .join(F.broadcast(cross_gh), "gh")
        .select("doc_id", "n_chars", "pos")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    islands = hits.withColumn(
        "new_island",
        F.when(
            F.col("pos") - F.lag("pos").over(w) > K_SPAN, F.lit(1)
        ).otherwise(F.lit(0)),
    ).withColumn(
        "island",
        F.sum("new_island").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    spans = islands.groupBy("doc_id", "n_chars", "island").agg(
        F.min("pos").alias("s"),
        (F.max("pos") + F.lit(K_SPAN - 1)).alias("e"),
    )
    out = (
        spans.groupBy("doc_id", "n_chars")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.max(F.col("e") - F.col("s") + 1).alias("max_span_len"),
            F.sum(F.col("e") - F.col("s") + 1).alias("repeated_chars"),
        )
        .select(
            "doc_id",
            F.col("n_spans").cast("long").alias("n_spans"),
            F.col("max_span_len").cast("long").alias("max_span_len"),
            F.col("repeated_chars").cast("long").alias("repeated_chars"),
            (
                F.round(
                    F.col("repeated_chars").cast("double")
                    / F.col("n_chars").cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("repeated_frac"),
        )
    )
    # report_sort, not orderBy: the global sort's range-boundary sampling
    # re-executes the whole gram pipeline (measured +0.74s of a 1.6s warm
    # chain at sf0.1); the span report is per-affected-doc bounded
    from ..plans import report_sort

    return report_sort(out, "doc_id")


def repeated_substring_spans_oracle() -> str:
    from ..functions.hashing import hash60_sql

    gh = hash60_sql(f"substr(text, pos, {K_SPAN})")
    return f"""
WITH grams AS (
  SELECT doc_id, n_chars, pos, {gh} AS gh
  FROM (SELECT doc_id, n_chars, text,
               unnest(range(1, n_chars - {K_SPAN - 1} + 1)) AS pos
        FROM documents WHERE n_chars >= {K_SPAN})),
crossdoc AS (
  SELECT gh FROM grams GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
hits AS (
  SELECT doc_id, n_chars, pos FROM grams JOIN crossdoc USING (gh)),
marked AS (
  SELECT doc_id, n_chars, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   > {K_SPAN} THEN 1 ELSE 0 END AS new_island
  FROM hits),
islands AS (
  SELECT doc_id, n_chars, pos,
         sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS UNBOUNDED PRECEDING) AS island
  FROM marked),
spans AS (
  SELECT doc_id, n_chars, island,
         min(pos) AS s, max(pos) + {K_SPAN - 1} AS e
  FROM islands GROUP BY doc_id, n_chars, island)
SELECT doc_id,
       count(*)::BIGINT AS n_spans,
       max(e - s + 1)::BIGINT AS max_span_len,
       sum(e - s + 1)::BIGINT AS repeated_chars,
       (round(sum(e - s + 1)::DOUBLE / any_value(n_chars)::DOUBLE, 6) + 0.0)
         AS repeated_frac
FROM spans
GROUP BY doc_id
ORDER BY doc_id
""".strip()


# --------------------------------------------------------------------------
# Edit-distance near-dup: banded candidates verified by Levenshtein
# --------------------------------------------------------------------------

EDIT_PREFIX_LEN = 120  # compare normalized-length prefixes: O(P^2) per pair, P fixed
EDIT_MAX = 24          # keep pairs within 20% edits of the prefix


def edit_distance_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.3,
    num_hashes: int = NUM_HASHES,
    band_size: int = BAND_SIZE,
    bucket_cap: int = BUCKET_CAP,
) -> DataFrame:
    """Near-dup pairs verified by EDIT DISTANCE instead of Jaccard: the
    banded MinHash candidate set (:func:`_minhash_candidates` -- never
    all-pairs, same three scale guards) re-checked with
    ``levenshtein(prefix_a, prefix_b) <= EDIT_MAX`` over fixed
    EDIT_PREFIX_LEN-char prefixes. Levenshtein is the verifier editors
    reach for when near-dups differ by local edits rather than shingle
    churn; the fixed prefix keeps the per-pair cost O(EDIT_PREFIX_LEN^2)
    -- constant -- so total cost stays linear in the candidate count at
    any corpus size. Both engines ship the classic unit-cost Levenshtein
    (insert/delete/substitute = 1), verified equal on constructed cases
    by tests/test_dedup.py."""
    cand = _minhash_candidates(
        spark, sf_dir, threshold, num_hashes, band_size, bucket_cap
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, EDIT_PREFIX_LEN).alias("prefix")
    )
    return (
        cand.join(
            docs.select(F.col("doc_id").alias("d1"), F.col("prefix").alias("p1")), "d1"
        )
        .join(
            docs.select(F.col("doc_id").alias("d2"), F.col("prefix").alias("p2")), "d2"
        )
        .select(
            "d1",
            "d2",
            F.levenshtein("p1", "p2").cast("long").alias("edit_distance"),
        )
        .filter(F.col("edit_distance") <= EDIT_MAX)
        .orderBy("d1", "d2")
    )


def edit_distance_pairs_oracle(
    threshold: float = 0.3,
    num_hashes: int = NUM_HASHES,
    band_size: int = BAND_SIZE,
) -> str:
    ctes, _final = _minhash_pairs_cte(threshold, num_hashes, band_size)
    return f"""
WITH {ctes}
SELECT d1, d2,
       levenshtein(substr(a.text, 1, {EDIT_PREFIX_LEN}),
                   substr(b.text, 1, {EDIT_PREFIX_LEN}))::BIGINT AS edit_distance
FROM cand JOIN documents a ON a.doc_id = d1
          JOIN documents b ON b.doc_id = d2
WHERE levenshtein(substr(a.text, 1, {EDIT_PREFIX_LEN}),
                  substr(b.text, 1, {EDIT_PREFIX_LEN})) <= {EDIT_MAX}
ORDER BY d1, d2
""".strip()


def canonical_select(
    spark: SparkSession, sf_dir: str, threshold: float = 0.3
) -> DataFrame:
    """The KEEP policy that completes a dedup pipeline: per MinHash
    near-dup cluster, select the canonical representative by quality
    (longest text wins, ties to the lower doc_id) and report what gets
    dropped -- (cluster_rep, cluster_size, keep_doc_id, keep_n_chars,
    dropped). pipeline_corpus_prep's keep-lowest-id rule is the cheap
    default; this is the quality-aware form (RefinedWeb/FineWeb keep the
    longest member so boilerplate-trimmed variants lose to the full
    document).

    Plan: the memoized cluster-label table (one row per near-dup doc)
    joins documents for the quality column; selection is a row_number
    window PARTITIONED BY cluster (near-dup components are tiny, so
    bounded groups -- never a global sort). Output: one row per cluster.
    """
    from pyspark.sql import Window

    pairs = minhash_lsh_pairs(spark, sf_dir, threshold).select("d1", "d2")
    labels = _clusters_cached(spark, sf_dir, threshold, "minhash", pairs).select(
        F.col("node").alias("doc_id"), "cluster_rep"
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    j = labels.join(docs, "doc_id")
    w = Window.partitionBy("cluster_rep")
    rn = F.row_number().over(w.orderBy(F.desc("n_chars"), "doc_id"))
    return (
        j.withColumn("rn", rn)
        .withColumn("cluster_size", F.count(F.lit(1)).over(w))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_rep",
            F.col("cluster_size").cast("long").alias("cluster_size"),
            F.col("doc_id").alias("keep_doc_id"),
            F.col("n_chars").alias("keep_n_chars"),
            (F.col("cluster_size") - 1).cast("long").alias("dropped"),
        )
        .orderBy("cluster_rep")
    )


def canonical_select_oracle(
    threshold: float = 0.3,
    num_hashes: int = NUM_HASHES,
    band_size: int = BAND_SIZE,
) -> str:
    ctes, final = _minhash_pairs_cte(threshold, num_hashes, band_size)
    return f"""WITH RECURSIVE {ctes},
pairs AS ({final}),
cedges AS (SELECT d1 AS a, d2 AS b FROM pairs
           UNION ALL SELECT d2, d1 FROM pairs),
reach(a, b) AS (SELECT a, b FROM cedges
                UNION
                SELECT r.a, e.b FROM reach r JOIN cedges e ON r.b = e.a),
labels AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_rep
           FROM reach GROUP BY a),
lj AS (SELECT l.cluster_rep, l.doc_id, d.n_chars
       FROM labels l JOIN documents d USING (doc_id)),
rr AS (SELECT *,
              row_number() OVER (PARTITION BY cluster_rep
                                 ORDER BY n_chars DESC, doc_id) AS rn,
              count(*) OVER (PARTITION BY cluster_rep) AS csize
       FROM lj)
SELECT cluster_rep, csize::BIGINT AS cluster_size, doc_id AS keep_doc_id,
       n_chars AS keep_n_chars, (csize - 1)::BIGINT AS dropped
FROM rr WHERE rn = 1 ORDER BY cluster_rep"""
