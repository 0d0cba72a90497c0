"""Quantized PageRank over the k-NN similarity graph -- the graph-algorithm
family joining the quantized-chain discipline proven on Lloyd (ivf.py) and
BPE (textops.py): N iterations composed as ONE lazy plan, every iteration's
state held in exact integers so the whole trajectory is bit-identical
across engines, oracle = the loop unrolled as a CTE chain.

Graph: each node's PR_K nearest neighbours by round-6dp cosine distance
with the house (distance, id) tie-break -- so every node has out-degree
exactly PR_K and the dangling-node term vanishes. The node set is a
deterministic subset (vec_id % PR_SUBSET_MOD == 0) so the ORACLE's
brute-force pair build stays bounded; the Spark side uses the same exact
build here for gate symmetry, but the rank loop never looks at how edges
were made -- at 100 TB you swap in the LSH-blocked builder
(knn.knn_graph_blocked / dedup's banded candidates) and keep the loop.

Arithmetic: ranks are BIGINT micro-units (1e6 = mass 1). Every division
is half-up via (2a + b) DIV (2b); DIV is implemented as
(x - pmod(x, y)) / y -- the subtraction makes the numerator exactly
divisible, so the float64 division of two exactly-representable integers
with an integer quotient is EXACT (no floor-of-approximate-quotient edge).
DuckDB mirrors with its native integer `//`. Update rule per iteration:

    contrib(u -> v) = halfup(rank_u, PR_K)
    rank'_v = halfup(15 * MICRO, 100 * n)                      (teleport)
            + halfup(85 * sum_in(v) coalesced to 0, 100)       (damping)

i.e. d = 0.85 expressed as the integer pair (85, 100). Public algorithm:
Brin & Page 1998; the quantization is ours, chosen so the gate can
hash-compare trajectories instead of trusting float convergence.

At scale: edges are a distributed (src, dst) table; each iteration is one
equi-join rank⋈edges plus one groupBy(dst) sum -- the textbook distributed
PageRank shape (shuffle on dst, partial aggregation map-side). The rank
table is one row per node; nothing corpus-sized is collected or windowed
globally. Output is the top-PR_TOPN final ranks (bounded), plus a separate
per-iteration mass-trajectory gate (PR_ITERS rows).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.vector import distance_expr, oracle_distance_sql
from ..sources.tables import load_table
from . import _memo

MICRO = 1_000_000
PR_SUBSET_MOD = 10  # nodes: vec_id % PR_SUBSET_MOD == 0
PR_K = 4            # out-degree (exact top-K neighbours)
PR_ITERS = 3
PR_TOPN = 20
DAMP_NUM, DAMP_DEN = 85, 100  # d = 0.85 as an integer pair


def _intdiv(a: Column, b: Column) -> Column:
    """Exact integer floor division for non-negative longs: subtracting
    pmod makes the numerator exactly divisible, so the float64 division
    has an integer quotient and is exact (operands stay < 2^53)."""
    return ((a - F.pmod(a, b)) / b).cast("long")


def _halfup(a: Column, b: Column) -> Column:
    """round_half_up(a / b) for non-negative integer columns."""
    return _intdiv(F.lit(2) * a + b, F.lit(2) * b)


def _nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % PR_SUBSET_MOD == 0)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )


@_memo.per_app
def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst): each node's PR_K nearest neighbours, round-6dp cosine,
    (distance, dst) tie-break. Self-pairs excluded, so out-degree == PR_K
    whenever the subset has > PR_K nodes (it does at every SF).
    Memoized + localCheckpointed per (application, sf_dir): every graph
    query consumes this table, and the window-ranked pair build is the
    expensive part of each of them."""
    nodes = _nodes(spark, sf_dir)
    a = nodes.select(F.col("vec_id").alias("src"), F.col("v").alias("va"))
    b = nodes.select(F.col("vec_id").alias("dst"), F.col("v").alias("vb"))
    pairs = a.join(b, F.col("src") != F.col("dst")).select(
        "src",
        "dst",
        distance_expr("cosine", "va", "vb").alias("d"),
    )
    rn = F.row_number().over(Window.partitionBy("src").orderBy("d", "dst"))
    # the window is partitioned by src (bounded PR_K survivors per node) --
    # never a global No-Partition-Defined sort
    return (
        pairs.withColumn("rn", rn)
        .filter(F.col("rn") <= PR_K)
        .select("src", "dst")
        .localCheckpoint()
    )


PPR_SEED_MOD = 50  # personalized teleport set: vec_id % PPR_SEED_MOD == 0


@_memo.per_app
def _rank_chain(
    spark: SparkSession, sf_dir: str, iters: int, seed_mod: int | None = None
) -> list[DataFrame]:
    """[r0, r1, ..., r_iters] rank tables (vec_id, rank, n, seed) composed
    as one lazy plan; memoized per (application, sf_dir, iters, seed_mod)
    and eagerly localCheckpointed like the other quantized chains so the
    trajectory gate and the top-N gate share one execution.

    ``seed_mod`` = None is plain PageRank (every node is a teleport
    target); an integer restricts the teleport set to vec_id % seed_mod
    == 0 -- personalized PageRank (Haveliwala 2002), where the teleport
    denominator becomes the SEED count and non-seeds receive only damped
    in-flow. The two cases share one arithmetic path: the None case is
    the all-seeds degeneracy."""
    nodes = _nodes(spark, sf_dir).select("vec_id")
    if seed_mod is None:
        nodes = nodes.withColumn("seed", F.lit(True))
    else:
        nodes = nodes.withColumn("seed", F.col("vec_id") % seed_mod == 0)
    n_df = nodes.filter("seed").agg(F.count(F.lit(1)).alias("n"))
    edges = _edges(spark, sf_dir)
    zero = F.lit(0).cast("long")
    r = (
        nodes.crossJoin(F.broadcast(n_df))
        .select(
            "vec_id",
            F.when(F.col("seed"), _halfup(F.lit(MICRO), F.col("n")))
            .otherwise(zero)
            .alias("rank"),
            "n",
            "seed",
        )
        .localCheckpoint()  # eager, per-iteration: truncates the loop
        # lineage so each iteration executes exactly once (ivf.py:330
        # discipline) and downstream gates share the materialized states
    )
    chain = [r]
    for _ in range(iters):
        contrib = (
            edges.join(r.select(F.col("vec_id").alias("src"), "rank"), "src")
            .select("dst", _halfup(F.col("rank"), F.lit(PR_K)).alias("c"))
        )
        sums = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
        r = (
            nodes.crossJoin(F.broadcast(n_df))
            .join(sums, nodes["vec_id"] == sums["dst"], "left")
            .select(
                "vec_id",
                (
                    F.when(
                        F.col("seed"),
                        _halfup(F.lit(15 * MICRO), F.lit(DAMP_DEN) * F.col("n")),
                    ).otherwise(zero)
                    + _halfup(
                        F.lit(DAMP_NUM) * F.coalesce(F.col("s"), F.lit(0)),
                        F.lit(DAMP_DEN),
                    )
                ).alias("rank"),
                "n",
                "seed",
            )
            .localCheckpoint()
        )
        chain.append(r)
    return chain


def pagerank_topn(spark: SparkSession, sf_dir: str, iters: int = PR_ITERS) -> DataFrame:
    """Final ranks after ``iters`` quantized iterations, top PR_TOPN by
    (rank DESC, vec_id) -- bounded output, BIGINT micro-units hash-gate."""
    r = _rank_chain(spark, sf_dir, iters)[-1]
    return (
        r.select("vec_id", F.col("rank").alias("rank_micros"))
        .orderBy(F.col("rank_micros").desc(), "vec_id")
        .limit(PR_TOPN)
    )


def pagerank_trajectory(spark: SparkSession, sf_dir: str, iters: int = PR_ITERS) -> DataFrame:
    """Per-iteration mass trajectory (iter, total/min/max rank) -- the
    whole loop's state evolution under the gate in iters+1 rows."""
    chain = _rank_chain(spark, sf_dir, iters)
    stats = [
        df.agg(
            F.lit(i).alias("iter"),
            F.sum("rank").alias("total_micros"),
            F.min("rank").alias("min_micros"),
            F.max("rank").alias("max_micros"),
        )
        for i, df in enumerate(chain)
    ]
    out = stats[0]
    for s in stats[1:]:
        out = out.unionAll(s)
    return out.orderBy("iter")


def _chain_sql(iters: int, seed_mod: int | None = None) -> list[str]:
    """DuckDB CTE chain mirroring :func:`_rank_chain`: nodes, nn, pairs,
    edges, r0, (c1, r1) ... (c_iters, r_iters)."""
    d = oracle_distance_sql("cosine", "a.v", "b.v")
    seed = "TRUE" if seed_mod is None else f"(vec_id % {seed_mod} = 0)"
    ctes = [
        f"""nodes AS (SELECT vec_id, embedding::DOUBLE[] AS v, {seed} AS seed
           FROM embeddings WHERE vec_id % {PR_SUBSET_MOD} = 0)""",
        "nn AS (SELECT count(*) AS n FROM nodes WHERE seed)",
        f"""pairs AS (SELECT a.vec_id AS src, b.vec_id AS dst, {d} AS d
           FROM nodes a JOIN nodes b ON a.vec_id <> b.vec_id)""",
        f"""edges AS (SELECT src, dst FROM (
             SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY d, dst) AS rn
             FROM pairs) WHERE rn <= {PR_K})""",
        f"""r0 AS (SELECT vec_id, CASE WHEN seed
                  THEN (2 * {MICRO} + n) // (2 * n) ELSE 0 END AS rank
           FROM nodes CROSS JOIN nn)""",
    ]
    for it in range(1, iters + 1):
        ctes.append(
            f"""c{it} AS (SELECT e.dst, sum((2 * r.rank + {PR_K}) // (2 * {PR_K})) AS s
           FROM edges e JOIN r{it - 1} r ON e.src = r.vec_id GROUP BY e.dst)"""
        )
        ctes.append(
            f"""r{it} AS (SELECT nodes.vec_id,
                  (CASE WHEN seed
                     THEN (2 * {15 * MICRO} + {DAMP_DEN} * n) // (2 * {DAMP_DEN} * n)
                     ELSE 0 END
                   + (2 * {DAMP_NUM} * coalesce(c.s, 0) + {DAMP_DEN}) // (2 * {DAMP_DEN})) AS rank
           FROM nodes CROSS JOIN nn LEFT JOIN c{it} c ON c.dst = nodes.vec_id)"""
        )
    return ctes


def pagerank_topn_oracle(iters: int = PR_ITERS) -> str:
    ctes = _chain_sql(iters)
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT vec_id, rank::BIGINT AS rank_micros FROM r{iters}"
        + f"\nORDER BY rank_micros DESC, vec_id LIMIT {PR_TOPN}"
    )


def ppr_topn(
    spark: SparkSession,
    sf_dir: str,
    iters: int = PR_ITERS,
    seed_mod: int = PPR_SEED_MOD,
) -> DataFrame:
    """Personalized PageRank: teleport mass restricted to the seed set
    (vec_id % seed_mod == 0) -- rank becomes proximity TO the seeds
    through the similarity graph, the relevance-propagation primitive
    behind seed-based retrieval expansion. Same quantized chain, same
    gate; only the teleport term changes."""
    r = _rank_chain(spark, sf_dir, iters, seed_mod)[-1]
    return (
        r.select("vec_id", F.col("rank").alias("rank_micros"))
        .orderBy(F.col("rank_micros").desc(), "vec_id")
        .limit(PR_TOPN)
    )


def ppr_topn_oracle(iters: int = PR_ITERS, seed_mod: int = PPR_SEED_MOD) -> str:
    ctes = _chain_sql(iters, seed_mod)
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT vec_id, rank::BIGINT AS rank_micros FROM r{iters}"
        + f"\nORDER BY rank_micros DESC, vec_id LIMIT {PR_TOPN}"
    )


def degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(in_degree, n_nodes) distribution of the k-NN graph -- the
    hub-structure diagnostic (out-degree is K by construction; in-degree
    concentration is what makes a similarity graph skewed). Two bounded
    aggregations; output rows <= max in-degree."""
    nodes = _nodes(spark, sf_dir).select("vec_id")
    indeg = _edges(spark, sf_dir).groupBy(F.col("dst").alias("vec_id")).agg(
        F.count(F.lit(1)).alias("in_degree")
    )
    return (
        nodes.join(indeg, "vec_id", "left")
        .select(F.coalesce("in_degree", F.lit(0)).alias("in_degree"))
        .groupBy("in_degree")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("in_degree")
    )


def degree_histogram_oracle() -> str:
    ctes = _chain_sql(0)[:4]  # nodes, nn, pairs, edges
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT in_degree, count(*) AS n_nodes FROM (
  SELECT coalesce(i.in_degree, 0) AS in_degree
  FROM nodes LEFT JOIN (SELECT dst, count(*) AS in_degree FROM edges GROUP BY dst) i
    ON i.dst = nodes.vec_id)
GROUP BY in_degree ORDER BY in_degree"""
    )


def pagerank_trajectory_oracle(iters: int = PR_ITERS) -> str:
    ctes = _chain_sql(iters)
    selects = "\nUNION ALL\n".join(
        f"""SELECT {it} AS iter, sum(rank)::BIGINT AS total_micros,
       min(rank)::BIGINT AS min_micros, max(rank)::BIGINT AS max_micros FROM r{it}"""
        for it in range(iters + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + selects + "\nORDER BY iter"


# --------------------------------------------------------------------------
# HITS (Kleinberg 1999): hubs point at good authorities, authorities are
# pointed at by good hubs. The float algorithm L2-normalizes per
# iteration; sqrt is not portable, so this form normalizes L1 in exact
# integer arithmetic -- score'_v = halfup(raw_v * MICRO, sum(raw)) -- which
# preserves the ranking (scores are non-negative) and keeps every
# iteration bit-identical across engines. Same per-iteration shape as
# PageRank: one equi-join + one groupBy per score table, per-iteration
# localCheckpoint, unrolled-CTE oracle.
# --------------------------------------------------------------------------

HITS_ITERS = 2


@_memo.per_app
def _hits_chain(spark: SparkSession, sf_dir: str, iters: int) -> tuple[DataFrame, DataFrame]:
    """(authority, hub) tables (vec_id, score) after ``iters`` quantized
    HITS iterations; memoized like the rank chain."""
    nodes = _nodes(spark, sf_dir).select("vec_id")
    n_df = nodes.agg(F.count(F.lit(1)).alias("n"))
    edges = _edges(spark, sf_dir)
    init = (
        nodes.crossJoin(F.broadcast(n_df))
        .select("vec_id", _halfup(F.lit(MICRO), F.col("n")).alias("score"))
        .localCheckpoint()
    )
    auth, hub = init, init

    def _normalized(raw: DataFrame) -> DataFrame:
        # raw: (vec_id, raw); L1-normalize to MICRO total in exact integers
        total = raw.agg(F.sum("raw").alias("tot"))
        return (
            raw.crossJoin(F.broadcast(total))
            .select(
                "vec_id",
                _halfup(F.col("raw") * F.lit(MICRO), F.col("tot")).alias("score"),
            )
            .localCheckpoint()
        )

    for _ in range(iters):
        a_raw = (
            edges.join(hub.select(F.col("vec_id").alias("src"), "score"), "src")
            .groupBy(F.col("dst").alias("vec_id"))
            .agg(F.sum("score").alias("raw"))
        )
        a_raw = nodes.join(a_raw, "vec_id", "left").select(
            "vec_id", F.coalesce("raw", F.lit(0)).alias("raw")
        )
        auth = _normalized(a_raw)
        h_raw = (
            edges.join(auth.select(F.col("vec_id").alias("dst"), "score"), "dst")
            .groupBy(F.col("src").alias("vec_id"))
            .agg(F.sum("score").alias("raw"))
        )
        h_raw = nodes.join(h_raw, "vec_id", "left").select(
            "vec_id", F.coalesce("raw", F.lit(0)).alias("raw")
        )
        hub = _normalized(h_raw)
    return auth, hub


def hits_topn(spark: SparkSession, sf_dir: str, iters: int = HITS_ITERS) -> DataFrame:
    """(vec_id, authority_micros, hub_micros): top PR_TOPN by authority
    (tie-break vec_id) after ``iters`` quantized HITS iterations."""
    auth, hub = _hits_chain(spark, sf_dir, iters)
    return (
        auth.select("vec_id", F.col("score").alias("authority_micros"))
        .join(hub.select("vec_id", F.col("score").alias("hub_micros")), "vec_id")
        .orderBy(F.col("authority_micros").desc(), "vec_id")
        .limit(PR_TOPN)
    )


def hits_topn_oracle(iters: int = HITS_ITERS) -> str:
    ctes = _chain_sql(0)[:4]  # nodes, nn, pairs, edges (nn counts all: seed=TRUE)
    ctes.append(
        f"""a0 AS (SELECT vec_id, (2 * {MICRO} + n) // (2 * n) AS score
           FROM nodes CROSS JOIN nn)"""
    )
    ctes.append("h0 AS (SELECT vec_id, score FROM a0)")
    for it in range(1, iters + 1):
        ctes.append(
            f"""ar{it} AS (SELECT nodes.vec_id, coalesce(sum(h.score), 0) AS raw
           FROM nodes LEFT JOIN edges e ON e.dst = nodes.vec_id
                      LEFT JOIN h{it - 1} h ON h.vec_id = e.src
           GROUP BY nodes.vec_id)"""
        )
        ctes.append(
            f"""a{it} AS (SELECT vec_id,
                  (2 * raw * {MICRO} + tot) // (2 * tot) AS score
           FROM ar{it} CROSS JOIN (SELECT sum(raw) AS tot FROM ar{it}))"""
        )
        ctes.append(
            f"""hr{it} AS (SELECT nodes.vec_id, coalesce(sum(a.score), 0) AS raw
           FROM nodes LEFT JOIN edges e ON e.src = nodes.vec_id
                      LEFT JOIN a{it} a ON a.vec_id = e.dst
           GROUP BY nodes.vec_id)"""
        )
        ctes.append(
            f"""h{it} AS (SELECT vec_id,
                  (2 * raw * {MICRO} + tot) // (2 * tot) AS score
           FROM hr{it} CROSS JOIN (SELECT sum(raw) AS tot FROM hr{it}))"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT a.vec_id, a.score::BIGINT AS authority_micros, h.score::BIGINT AS hub_micros
FROM a{iters} a JOIN h{iters} h ON a.vec_id = h.vec_id
ORDER BY authority_micros DESC, a.vec_id LIMIT {PR_TOPN}"""
    )


# --------------------------------------------------------------------------
# Triangle counting / local clustering coefficient over the same k-NN
# similarity graph -- the cluster-cohesion diagnostic of a near-dup graph
# (boilerplate families triangulate densely; random neighbour noise does
# not). Public algorithm: degree-ordered orientation ("compact-forward",
# Latapy 2008; Suri & Vassilvitskii 2011 for the MapReduce form).
# --------------------------------------------------------------------------

TRI_TOPN = 20


def _oriented(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(deg, orient): undirected degree per node, and each undirected edge
    directed from its lower-(degree, id) endpoint to the higher one. The
    orientation is the scale device: every triangle is counted exactly
    once, and wedge fan-out is bounded by the oriented out-degree
    (O(sqrt(m)) max, vs the raw max degree for the naive a<b<c join)."""
    und = _undirected(spark, sf_dir)
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("dega"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("degb"))
    j = und.join(da, "a").join(db, "b")
    a_first = (F.col("dega") < F.col("degb")) | (
        (F.col("dega") == F.col("degb")) & (F.col("a") < F.col("b"))
    )
    orient = j.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("s"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("t"),
    )
    # orient is referenced THREE times downstream (both wedge sides + the
    # closure semi-join) and deg twice; without truncation the window-
    # ranked edge build inlines into every reference (191 static shuffles
    # observed). Both tables are bounded (<= |edges| rows).
    return deg.localCheckpoint(), orient.localCheckpoint()


def triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-TRI_TOPN nodes by triangle participation: (vec_id, degree,
    triangles, clustering_coeff, total_triangles).

    Plan: symmetrize + orient (two node-keyed aggregates/joins), wedge =
    orient self-join on the middle vertex, close = LEFT SEMI join of the
    wedge's (low, high) endpoints back to orient -- three equi-joins and
    two aggregates, no window, no global sort before the bounded top-k.
    The per-node count unions the three corner projections of the closed
    triangle set (each corner participates once per triangle). The local
    clustering coefficient 2T/(d(d-1)) is two exact integer products and
    one IEEE division, identical in both engines; round-6dp is the house
    display contract.
    """
    deg, orient = _oriented(spark, sf_dir)
    o1 = orient.select(F.col("s").alias("x"), F.col("t").alias("y"))
    o2 = orient.select(F.col("s").alias("y"), F.col("t").alias("z"))
    wedges = o1.join(o2, "y")
    tri = wedges.join(
        orient.select(F.col("s").alias("x"), F.col("t").alias("z")),
        ["x", "z"],
        "left_semi",
    )
    pern = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    total = tri.agg(F.count(F.lit(1)).alias("total_triangles"))
    cc = F.round(
        (F.lit(2.0) * F.col("triangles").cast("double"))
        / (F.col("degree") * (F.col("degree") - F.lit(1))).cast("double"),
        6,
    ) + F.lit(0.0)
    return (
        deg.join(pern, "node", "left")
        .select(
            F.col("node").alias("vec_id"),
            F.col("deg").alias("degree"),
            F.coalesce("triangles", F.lit(0)).alias("triangles"),
        )
        .filter(F.col("degree") >= 2)
        .withColumn("clustering_coeff", cc.alias("clustering_coeff"))
        .crossJoin(F.broadcast(total))
        .orderBy(F.desc("triangles"), "vec_id")
        .limit(TRI_TOPN)
    )


def triangle_counts_oracle() -> str:
    ctes = _chain_sql(0)[:4]  # nodes, nn, pairs, edges
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM edges),
deg AS (SELECT node, count(*) AS deg FROM (
          SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und)
        GROUP BY node),
orient AS (
  SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
              THEN u.a ELSE u.b END AS s,
         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
              THEN u.b ELSE u.a END AS t
  FROM und u JOIN deg da ON da.node = u.a JOIN deg db ON db.node = u.b),
tri AS (
  SELECT o1.s AS x, o1.t AS y, o2.t AS z
  FROM orient o1 JOIN orient o2 ON o1.t = o2.s
  WHERE EXISTS (SELECT 1 FROM orient o3 WHERE o3.s = o1.s AND o3.t = o2.t)),
pern AS (SELECT node, count(*) AS triangles FROM (
           SELECT x AS node FROM tri
           UNION ALL SELECT y AS node FROM tri
           UNION ALL SELECT z AS node FROM tri)
         GROUP BY node),
tot AS (SELECT count(*) AS total_triangles FROM tri)
SELECT d.node AS vec_id, d.deg AS degree,
       coalesce(p.triangles, 0)::BIGINT AS triangles,
       round((2.0 * coalesce(p.triangles, 0)::DOUBLE)
             / (d.deg * (d.deg - 1))::DOUBLE, 6) + 0.0 AS clustering_coeff,
       (SELECT total_triangles FROM tot)::BIGINT AS total_triangles
FROM deg d LEFT JOIN pern p ON p.node = d.node
WHERE d.deg >= 2
ORDER BY triangles DESC, vec_id LIMIT {TRI_TOPN}"""
    )


# --------------------------------------------------------------------------
# Label propagation over the k-NN graph (Zhu & Ghahramani 2002, the
# clamped-seed form): hold out a deterministic subset's labels, propagate
# majority votes from out-neighbours for LP_ITERS rounds, grade the
# held-out predictions -- the pseudo-labeling / semi-supervised eval a
# training pipeline runs before trusting propagated labels. Votes are
# exact integer counts with an (count DESC, label ASC) argmax, so the
# whole trajectory is engine-independent without any quantization device.
# --------------------------------------------------------------------------

LP_ITERS = 2
LP_HOLDOUT_MOD = 4  # held out: vec_id % LP_HOLDOUT_MOD == 0


def _lp_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % PR_SUBSET_MOD == 0)
        .select(
            "vec_id",
            F.col("label").cast("long").alias("true_label"),
            F.when(F.col("vec_id") % LP_HOLDOUT_MOD == 0, F.lit(None))
            .otherwise(F.col("label"))
            .cast("long")
            .alias("lab"),
        )
    )


def label_propagation(
    spark: SparkSession, sf_dir: str, iters: int = LP_ITERS
) -> DataFrame:
    """(vec_id, true_label, predicted_label, correct) for every held-out
    node, ordered by vec_id (predicted_label NULL when no labelled
    neighbour was reachable within ``iters`` rounds).

    Each round: every currently-held-out node takes the argmax
    (votes DESC, label ASC) over its out-neighbours' previous-round
    labels; seed nodes are clamped. One equi-join + one bounded groupBy +
    one per-node window per round -- the PageRank shuffle shape with a
    vote argmax instead of a sum, composed as one lazy plan over the
    same swappable edge builder.
    """
    cur = _lp_chain(spark, sf_dir, iters)
    return (
        cur.filter(F.col("vec_id") % LP_HOLDOUT_MOD == 0)
        .select(
            "vec_id",
            "true_label",
            F.col("lab").alias("predicted_label"),
            (F.col("lab") == F.col("true_label")).alias("correct"),
        )
        .orderBy("vec_id")
    )


@_memo.per_app
def _lp_chain(spark: SparkSession, sf_dir: str, iters: int) -> DataFrame:
    """Final-round labels (vec_id, true_label, lab) after ``iters`` rounds."""
    from pyspark.sql import Window

    edges = _edges(spark, sf_dir)
    cur = _lp_labels(spark, sf_dir)
    for _ in range(iters):
        votes = (
            edges.join(
                cur.select(F.col("vec_id").alias("dst"), F.col("lab").alias("nlab")),
                "dst",
            )
            .filter(F.col("nlab").isNotNull())
            .groupBy(F.col("src"), F.col("nlab"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        rn = F.row_number().over(
            Window.partitionBy("src").orderBy(F.desc("n"), "nlab")
        )
        winner = (
            votes.withColumn("rn", rn)
            .filter(F.col("rn") == 1)
            .select(F.col("src").alias("vec_id"), F.col("nlab").alias("wlab"))
        )
        cur = (
            cur.join(winner, "vec_id", "left")
            .select(
                "vec_id",
                "true_label",
                # clamp: seeds keep their label; held-out nodes re-vote
                # every round on the previous round's assignments
                F.when(
                    F.col("vec_id") % LP_HOLDOUT_MOD == 0, F.col("wlab")
                ).otherwise(F.col("lab")).alias("lab"),
            )
            .localCheckpoint()
        )
    return cur


def label_propagation_oracle(iters: int = LP_ITERS) -> str:
    ctes = _chain_sql(0)[:4]  # nodes, nn, pairs, edges
    ctes.append(
        f"""lab0 AS (SELECT n.vec_id, e.label::BIGINT AS true_label,
                CASE WHEN n.vec_id % {LP_HOLDOUT_MOD} = 0 THEN NULL
                     ELSE e.label::BIGINT END AS lab
         FROM nodes n JOIN embeddings e ON e.vec_id = n.vec_id)"""
    )
    for it in range(1, iters + 1):
        prev = f"lab{it - 1}"
        ctes.append(
            f"""v{it} AS (SELECT src, nlab, count(*) AS n FROM (
             SELECT e.src, l.lab AS nlab FROM edges e
             JOIN {prev} l ON l.vec_id = e.dst WHERE l.lab IS NOT NULL)
           GROUP BY src, nlab)"""
        )
        ctes.append(
            f"""w{it} AS (SELECT src AS vec_id, nlab AS wlab FROM (
             SELECT src, nlab,
                    row_number() OVER (PARTITION BY src
                                       ORDER BY n DESC, nlab) AS rn
             FROM v{it}) WHERE rn = 1)"""
        )
        ctes.append(
            f"""lab{it} AS (SELECT p.vec_id, p.true_label,
                CASE WHEN p.vec_id % {LP_HOLDOUT_MOD} = 0 THEN w.wlab
                     ELSE p.lab END AS lab
           FROM {prev} p LEFT JOIN w{it} w ON w.vec_id = p.vec_id)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT vec_id, true_label, lab AS predicted_label,
       lab = true_label AS correct
FROM lab{iters} WHERE vec_id % {LP_HOLDOUT_MOD} = 0 ORDER BY vec_id"""
    )


# --------------------------------------------------------------------------
# Similarity-WEIGHTED PageRank: the same quantized chain with each edge's
# contribution proportional to its cosine similarity instead of uniform
# 1/K -- the form that matters on a k-NN graph, where the 4th neighbour
# is often much farther than the 1st. Weights are integer micros
# w = 1 + max(0, 1e6 - distance_micros) (the +1 keeps every out-weight
# sum positive even for all-antipodal neighbours), contributions are
# halfup(rank * w, sum_w) -- products stay < 2^53.
# --------------------------------------------------------------------------


@_memo.per_app
def _weighted_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst, w, sumw): the PR_K-NN edges with micro-unit similarity
    weights and each source's total out-weight."""
    nodes = _nodes(spark, sf_dir)
    a = nodes.select(F.col("vec_id").alias("src"), F.col("v").alias("va"))
    b = nodes.select(F.col("vec_id").alias("dst"), F.col("v").alias("vb"))
    pairs = a.join(b, F.col("src") != F.col("dst")).select(
        "src",
        "dst",
        distance_expr("cosine", "va", "vb").alias("d"),
    )
    rn = F.row_number().over(Window.partitionBy("src").orderBy("d", "dst"))
    kept = pairs.withColumn("rn", rn).filter(F.col("rn") <= PR_K)
    # round-to-nearest before the long cast: d is round-6dp, so d*1e6 is
    # within ulps of its integer -- Spark's bare cast truncates where
    # DuckDB rounds (the LM-vocabulary lesson)
    w = F.lit(1) + F.greatest(
        F.lit(0).cast("long"),
        F.lit(MICRO) - F.round(F.col("d") * F.lit(MICRO)).cast("long"),
    )
    wedges = kept.select("src", "dst", w.alias("w"))
    sums = wedges.groupBy("src").agg(F.sum("w").alias("sumw"))
    return wedges.join(sums, "src").localCheckpoint()


def pagerank_weighted_topn(
    spark: SparkSession, sf_dir: str, iters: int = PR_ITERS
) -> DataFrame:
    """Top-PR_TOPN final ranks of the similarity-weighted chain --
    same teleport/damping arithmetic as the plain chain, contribution
    halfup(rank * w, sumw) instead of halfup(rank, K)."""
    return (
        _weighted_rank(spark, sf_dir, iters)
        .select("vec_id", F.col("rank").alias("rank_micros"))
        .orderBy(F.desc("rank_micros"), "vec_id")
        .limit(PR_TOPN)
    )


@_memo.per_app
def _weighted_rank(spark: SparkSession, sf_dir: str, iters: int) -> DataFrame:
    """Final (vec_id, rank, n) table of the similarity-weighted chain."""
    nodes = _nodes(spark, sf_dir).select("vec_id")
    n_df = nodes.agg(F.count(F.lit(1)).alias("n"))
    edges = _weighted_edges(spark, sf_dir)
    r = (
        nodes.crossJoin(F.broadcast(n_df))
        .select("vec_id", _halfup(F.lit(MICRO), F.col("n")).alias("rank"), "n")
        .localCheckpoint()
    )
    for _ in range(iters):
        contrib = (
            edges.join(r.select(F.col("vec_id").alias("src"), "rank"), "src")
            .select(
                "dst",
                _halfup(F.col("rank") * F.col("w"), F.col("sumw")).alias("c"),
            )
        )
        sums = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
        r = (
            nodes.crossJoin(F.broadcast(n_df))
            .join(sums, nodes["vec_id"] == sums["dst"], "left")
            .select(
                "vec_id",
                (
                    _halfup(F.lit(15 * MICRO), F.lit(DAMP_DEN) * F.col("n"))
                    + _halfup(
                        F.lit(DAMP_NUM) * F.coalesce(F.col("s"), F.lit(0)),
                        F.lit(DAMP_DEN),
                    )
                ).alias("rank"),
                "n",
            )
            .localCheckpoint()
        )
    return r


# --------------------------------------------------------------------------
# k-core decomposition (iterative peel; Seidman 1983, the distributed
# peel of Montresor et al. 2013): repeatedly delete nodes of undirected
# degree < k until fixpoint -- the graph-curation filter that separates a
# cohesive near-dup / topic core from peripheral noise. Every quantity is
# an exact integer count, so the whole peel trajectory gates with no
# quantization device. On THIS corpus the 5-core is empty (out-degree is
# exactly PR_K=4, so the 4-core is the whole graph and k=5 cascades to
# empty within 3 rounds) -- the gate hashes the full cascade, which is the
# interesting object; an all-survive or all-dead single round would be
# vacuous. At 100 TB each round is one groupBy(node) degree count plus
# two semi-joins on a table that only shrinks -- the same
# monotone-shrinking-frontier shape as the star-contraction components.
# --------------------------------------------------------------------------

KC_K = 5
KC_ITERS = 3


@_memo.per_app
def _undirected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetrized edge set as (a < b) pairs -- one row per undirected
    edge of the k-NN graph. Memoized + localCheckpointed per
    (application, sf_dir): triangles, k-core, and link prediction all
    consume it, and the upstream window-ranked edge build would otherwise
    inline into every reference (the _oriented lesson)."""
    edges = _edges(spark, sf_dir)
    return (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
        .localCheckpoint()
    )


def _peel(
    nodes: DataFrame, edges: DataFrame, k: int, iters: int
) -> list[tuple[DataFrame, DataFrame]]:
    """[(nodes, edges)] for round 0..iters of the k-core peel."""
    states = [(nodes, edges)]
    for _ in range(iters):
        keep = (
            edges.select(F.col("a").alias("node"))
            .unionAll(edges.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= k)
            .select("node")
        )
        nodes = (
            nodes.join(keep, nodes["vec_id"] == keep["node"], "left_semi")
            .localCheckpoint()
        )
        na = nodes.select(F.col("vec_id").alias("a"))
        nb = nodes.select(F.col("vec_id").alias("b"))
        edges = (
            edges.join(na, "a", "left_semi")
            .join(nb, "b", "left_semi")
            .localCheckpoint()
        )
        states.append((nodes, edges))
    return states


@_memo.per_app
def _kcore_states(
    spark: SparkSession, sf_dir: str, k: int, iters: int
) -> list[tuple[DataFrame, DataFrame]]:
    nodes = _nodes(spark, sf_dir).select("vec_id").localCheckpoint()
    return _peel(nodes, _undirected(spark, sf_dir), k, iters)


def kcore_trajectory(
    spark: SparkSession,
    sf_dir: str,
    k: int = KC_K,
    iters: int = KC_ITERS,
    nodes_df: DataFrame | None = None,
    und_df: DataFrame | None = None,
) -> DataFrame:
    """(iter, core_nodes, core_edges) for iter 0..``iters``: the peel
    trajectory of the k-core computation. Round r keeps the nodes whose
    degree over round r-1's surviving edges is >= k, then keeps the edges
    with both endpoints surviving. Per-round localCheckpoint truncates the
    loop lineage (the rank-chain discipline); every per-round table is
    bounded by the original node/edge counts and only shrinks.

    ``nodes_df``/``und_df`` override the corpus graph (vec_id / (a, b)
    columns) -- the property-fuzz hook: the peel semantics are graph-
    independent, so hypothesis drives THIS code path on random graphs."""
    if (nodes_df is None) != (und_df is None):
        raise ValueError(
            "kcore_trajectory: provide BOTH nodes_df and und_df or neither "
            "-- a partial override would mix a caller graph with the "
            "corpus k-NN edges"
        )
    if nodes_df is None:
        states = _kcore_states(spark, sf_dir, k, iters)
    else:
        # override-path states are held so _memo.clear() can unpersist
        # their localCheckpointed RDDs -- repeated override calls
        # (hypothesis property-fuzz, long-lived hosts) otherwise accumulate
        # checkpointed blocks until process exit (ADVICE r9). They cannot
        # be unpersisted before returning: localCheckpoint truncates
        # lineage, so the returned plan's blocks must outlive this call.
        nodes = nodes_df.select("vec_id").localCheckpoint()
        states = _memo.hold(spark, _peel(nodes, und_df.localCheckpoint(), k, iters))
    stats = [
        n.agg(F.lit(i).alias("iter"), F.count(F.lit(1)).alias("core_nodes"))
        .crossJoin(F.broadcast(e.agg(F.count(F.lit(1)).alias("core_edges"))))
        for i, (n, e) in enumerate(states)
    ]
    out = stats[0]
    for s in stats[1:]:
        out = out.unionAll(s)
    return out.orderBy("iter")


def kcore_trajectory_oracle(k: int = KC_K, iters: int = KC_ITERS) -> str:
    ctes = _chain_sql(0)[:4]  # nodes, nn, pairs, edges
    ctes.append("s0 AS (SELECT vec_id FROM nodes)")
    ctes.append(
        "e0 AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM edges)"
    )
    for it in range(1, iters + 1):
        p = it - 1
        ctes.append(
            f"""d{it} AS (SELECT node, count(*) AS deg FROM (
             SELECT a AS node FROM e{p} UNION ALL SELECT b AS node FROM e{p})
           GROUP BY node)"""
        )
        ctes.append(
            f"""s{it} AS (SELECT s.vec_id FROM s{p} s
           JOIN d{it} d ON d.node = s.vec_id WHERE d.deg >= {k})"""
        )
        ctes.append(
            f"""e{it} AS (SELECT e.a, e.b FROM e{p} e
           WHERE EXISTS (SELECT 1 FROM s{it} x WHERE x.vec_id = e.a)
             AND EXISTS (SELECT 1 FROM s{it} y WHERE y.vec_id = e.b))"""
        )
    selects = "\nUNION ALL\n".join(
        f"""SELECT {it} AS iter,
       (SELECT count(*) FROM s{it})::BIGINT AS core_nodes,
       (SELECT count(*) FROM e{it})::BIGINT AS core_edges"""
        for it in range(iters + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + selects + "\nORDER BY iter"


# --------------------------------------------------------------------------
# Link prediction by common neighbours / Jaccard over the undirected k-NN
# graph (Liben-Nowell & Kleinberg 2003): for every non-adjacent pair that
# shares at least one neighbour, score = |N(x) ∩ N(z)| and the Jaccard
# form |∩| / (|N(x)| + |N(z)| - |∩|) in half-up integer micros -- the
# "these two documents should probably be duplicates/related but the k-NN
# cutoff missed the edge" candidate generator. Wedge fan-out through a
# middle vertex is deg(y)^2 with deg bounded by K + in-degree on a k-NN
# graph; a hub-heavy graph would orient wedges by degree exactly as
# triangle_counts does -- this form keeps the symmetric join because both
# directions of each candidate pair are needed for the degree terms.
# --------------------------------------------------------------------------

LPRED_TOPN = 20


def link_prediction(
    spark: SparkSession, sf_dir: str, und_df: DataFrame | None = None
) -> DataFrame:
    """Top-LPRED_TOPN non-adjacent pairs (x < z) by (common_neighbors
    DESC, jaccard_micros DESC, x, z): (x, z, common_neighbors,
    jaccard_micros). Three equi-joins + one bounded groupBy; candidates
    exist only where a wedge exists, never all pairs. ``und_df``
    overrides the corpus edge set (the property-fuzz hook)."""
    und = und_df if und_df is not None else _undirected(spark, sf_dir)
    adj = und.select(F.col("a").alias("u"), F.col("b").alias("w")).unionAll(
        und.select(F.col("b").alias("u"), F.col("a").alias("w"))
    )
    deg = adj.groupBy(F.col("u").alias("node")).agg(F.count(F.lit(1)).alias("deg"))
    a1 = adj.select(F.col("u").alias("x"), "w")
    a2 = adj.select(F.col("u").alias("z"), "w")
    cand = (
        a1.join(a2, "w")
        .filter(F.col("x") < F.col("z"))
        .groupBy("x", "z")
        .agg(F.count(F.lit(1)).alias("common_neighbors"))
        .join(und, (F.col("x") == und["a"]) & (F.col("z") == und["b"]), "left_anti")
    )
    dx = deg.select(F.col("node").alias("x"), F.col("deg").alias("degx"))
    dz = deg.select(F.col("node").alias("z"), F.col("deg").alias("degz"))
    union_size = F.col("degx") + F.col("degz") - F.col("common_neighbors")
    return (
        cand.join(dx, "x")
        .join(dz, "z")
        .select(
            "x",
            "z",
            "common_neighbors",
            _halfup(
                F.col("common_neighbors") * F.lit(MICRO), union_size
            ).alias("jaccard_micros"),
        )
        .orderBy(
            F.desc("common_neighbors"), F.desc("jaccard_micros"), "x", "z"
        )
        .limit(LPRED_TOPN)
    )


def link_prediction_oracle() -> str:
    ctes = _chain_sql(0)[:4]  # nodes, nn, pairs, edges
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM edges),
adj AS (SELECT a AS u, b AS w FROM und UNION ALL SELECT b AS u, a AS w FROM und),
deg AS (SELECT u AS node, count(*) AS deg FROM adj GROUP BY u),
cand AS (
  SELECT a1.u AS x, a2.u AS z, count(*) AS common_neighbors
  FROM adj a1 JOIN adj a2 ON a1.w = a2.w AND a1.u < a2.u
  GROUP BY a1.u, a2.u),
nonadj AS (
  SELECT c.* FROM cand c
  WHERE NOT EXISTS (SELECT 1 FROM und e WHERE e.a = c.x AND e.b = c.z))
SELECT c.x, c.z, c.common_neighbors::BIGINT AS common_neighbors,
       ((2 * c.common_neighbors * {MICRO}
         + (dx.deg + dz.deg - c.common_neighbors))
        // (2 * (dx.deg + dz.deg - c.common_neighbors)))::BIGINT AS jaccard_micros
FROM nonadj c JOIN deg dx ON dx.node = c.x JOIN deg dz ON dz.node = c.z
ORDER BY common_neighbors DESC, jaccard_micros DESC, x, z LIMIT {LPRED_TOPN}"""
    )


def pagerank_weighted_topn_oracle(iters: int = PR_ITERS) -> str:
    d = oracle_distance_sql("cosine", "a.v", "b.v")
    ctes = [
        f"""nodes AS (SELECT vec_id, embedding::DOUBLE[] AS v
           FROM embeddings WHERE vec_id % {PR_SUBSET_MOD} = 0)""",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        f"""pairs AS (SELECT a.vec_id AS src, b.vec_id AS dst, {d} AS d
           FROM nodes a JOIN nodes b ON a.vec_id <> b.vec_id)""",
        f"""kept AS (SELECT src, dst, d FROM (
             SELECT src, dst, d, row_number() OVER (PARTITION BY src ORDER BY d, dst) AS rn
             FROM pairs) WHERE rn <= {PR_K})""",
        f"""wedges AS (SELECT src, dst,
             1 + greatest(0, {MICRO} - round(d * {MICRO})::BIGINT) AS w
           FROM kept)""",
        """edges AS (SELECT src, dst, w, sum(w) OVER (PARTITION BY src) AS sumw
           FROM wedges)""",
        f"""r0 AS (SELECT vec_id, (2 * {MICRO} + n) // (2 * n) AS rank
           FROM nodes CROSS JOIN nn)""",
    ]
    for it in range(1, iters + 1):
        ctes.append(
            f"""c{it} AS (SELECT e.dst, sum((2 * r.rank * e.w + e.sumw) // (2 * e.sumw)) AS s
           FROM edges e JOIN r{it - 1} r ON e.src = r.vec_id GROUP BY e.dst)"""
        )
        ctes.append(
            f"""r{it} AS (SELECT nodes.vec_id,
                  ((2 * {15 * MICRO} + {DAMP_DEN} * n) // (2 * {DAMP_DEN} * n)
                   + (2 * {DAMP_NUM} * coalesce(c.s, 0) + {DAMP_DEN}) // (2 * {DAMP_DEN})) AS rank
           FROM nodes CROSS JOIN nn LEFT JOIN c{it} c ON c.dst = nodes.vec_id)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT vec_id, rank::BIGINT AS rank_micros FROM r{iters}"
        + f"\nORDER BY rank_micros DESC, vec_id LIMIT {PR_TOPN}"
    )
