"""k-NN operator behavior tests (reference scenarios from
tests/test_indexes.py and tests/test_vector_store.py -- ordering, filter
restriction, empty-filter short-circuit, k truncation, k<=0 rejection)."""

import pytest

from vector_db_from_scratch_spark.operators.knn import batch_knn, flat_knn

# the dyadic directory's MMR shortlist: every valid row except the query,
# so it reaches the zero vector (relevance -inf) but not the NULL-distance
# rows, which the descending-relevance shortlist sort puts last
DYADIC_SHORTLIST = 60


@pytest.fixture(scope="module")
def dyadic_dir(tmp_path_factory):
    """A 64-row sf directory (``embeddings`` only) of 64-d vectors with
    k/128 components. vec 5 is vec 0 moved by 1/128 on one axis, so their
    euclidean distance is exactly 0.0078125, a 6-dp half; vec 7 is the zero
    vector. vecs 11, 13 and 17 are invalid candidates: a NULL embedding, a
    63-element one and one with a NULL element. None of them is a query
    (vec_id < 4) or a hard-negative anchor (vec_id % 25 == 0)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(7)
    vecs = rng.integers(-64, 65, size=(64, 64)) / 128.0
    vecs[5] = vecs[0]
    vecs[5, 0] += 1 / 128
    vecs[7] = 0.0
    emb = [list(v) for v in vecs]
    emb[11] = None
    emb[13] = emb[13][:63]
    emb[17][3] = None
    path = tmp_path_factory.mktemp("dyadic")
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(64), pa.int64()),
                "embedding": pa.array(emb, pa.list_(pa.float32())),
                "label": pa.array([i % 3 for i in range(64)], pa.int32()),
            }
        ),
        path / "embeddings.parquet",
    )
    return str(path)


@pytest.fixture(params=["sf", "dyadic"])
def twin_dir(request, sf_dir):
    """The directories on which each ``_fast`` path must equal its twin."""
    return sf_dir if request.param == "sf" else request.getfixturevalue("dyadic_dir")


def test_self_is_nearest_cosine(spark, sf_dir):
    rows = flat_knn(spark, sf_dir, "cosine", k=3, query_vec_id=0).collect()
    assert rows[0]["vec_id"] == 0
    assert rows[0]["distance"] == pytest.approx(0.0, abs=1e-6)
    dists = [r["distance"] for r in rows]
    assert dists == sorted(dists)


def test_k_truncates(spark, sf_dir):
    assert flat_knn(spark, sf_dir, "euclidean", k=7).count() == 7


def test_filter_restricts_results(spark, sf_dir):
    rows = flat_knn(spark, sf_dir, "cosine", k=10, label_filter=5).collect()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    allowed = {r["vec_id"] for r in emb.filter("label = 5").select("vec_id").collect()}
    assert rows and all(r["vec_id"] in allowed for r in rows)


def test_empty_filter_short_circuits(spark, sf_dir):
    assert flat_knn(spark, sf_dir, "cosine", k=10, label_filter=-1).count() == 0


def test_k_nonpositive_raises(spark, sf_dir):
    with pytest.raises(ValueError):
        flat_knn(spark, sf_dir, "cosine", k=0)


def test_batch_knn_matches_single(spark, sf_dir):
    batch = batch_knn(spark, sf_dir, "cosine", k=5, num_queries=3).collect()
    by_query = {}
    for r in batch:
        by_query.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"]))
    for qid, hits in by_query.items():
        single = flat_knn(spark, sf_dir, "cosine", k=5, query_vec_id=qid).collect()
        assert [v for _, v in sorted(hits)] == [r["vec_id"] for r in single]


def test_fast_knn_matches_expression_path(spark, twin_dir):
    from vector_db_from_scratch_spark.operators.knn import flat_knn_fast

    for metric in ("cosine", "euclidean", "dot_product"):
        slow = flat_knn(spark, twin_dir, metric, k=10).collect()
        fast = flat_knn_fast(spark, twin_dir, metric, k=10).collect()
        assert [(r["vec_id"], r["distance"]) for r in slow] == [
            (r["vec_id"], r["distance"]) for r in fast
        ], metric


def test_knn_per_label_covers_every_label_and_matches_filtered(spark, sf_dir):
    """Per-tenant top-k: one row set per label, each equal to the
    label-filtered flat k-NN over that tenant's slice."""
    from vector_db_from_scratch_spark.operators.knn import knn_per_label

    rows = knn_per_label(spark, sf_dir, "cosine", k=3, query_vec_id=0).collect()
    labels = sorted({r["label"] for r in rows})
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assert labels == sorted(r["label"] for r in emb.select("label").distinct().collect())
    by_label = {}
    for r in rows:
        by_label.setdefault(r["label"], []).append((r["rnk"], r["vec_id"], r["distance"]))
    lbl = labels[0]
    single = flat_knn(spark, sf_dir, "cosine", k=3, query_vec_id=0, label_filter=lbl).collect()
    assert [(v, d) for _, v, d in sorted(by_label[lbl])] == [
        (r["vec_id"], r["distance"]) for r in single
    ]


def test_batch_knn_fast_matches_expression_path(spark, twin_dir):
    """The GEMM batch kernel must agree with the declarative two-phase
    window form on every metric -- same rows, distances, and ranks."""
    from vector_db_from_scratch_spark.operators.knn import batch_knn, batch_knn_fast

    for metric in ("cosine", "euclidean", "dot_product"):
        slow = batch_knn(spark, twin_dir, metric, k=5, num_queries=4).collect()
        fast = batch_knn_fast(spark, twin_dir, metric, k=5, num_queries=4).collect()
        key = lambda r: (r["query_id"], r["rank"])
        assert sorted(
            [(r["query_id"], r["rank"], r["vec_id"], r["distance"]) for r in slow]
        ) == sorted(
            [(r["query_id"], r["rank"], r["vec_id"], r["distance"]) for r in fast]
        ), metric


def test_mmr_rerank_greedy_matches_python_and_lambda1_degenerates(spark, sf_dir):
    """knn_mmr_rerank: (a) lam=1 degenerates to pure relevance order (the
    un-diversified top-k); (b) at lam=0.7 the selections match a
    brute-force Python greedy MMR over the same rounded similarities;
    (c) no duplicate picks."""
    import numpy as np
    from vector_db_from_scratch_spark.operators.knn import (
        MMR_K,
        MMR_LAMBDA,
        MMR_N,
        knn_mmr_rerank,
    )

    rows = knn_mmr_rerank(spark, sf_dir).collect()
    picked = [r["vec_id"] for r in sorted(rows, key=lambda r: r["rank"])]
    assert len(set(picked)) == len(picked) == MMR_K

    pure = knn_mmr_rerank(spark, sf_dir, lam=1.0).collect()
    pure_ids = [r["vec_id"] for r in sorted(pure, key=lambda r: r["rank"])]

    emb = {
        r["vec_id"]: np.asarray([float(x) for x in r["embedding"]], dtype=np.float64)
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }

    def sim(u, v):  # 1 - rounded cosine distance (the engines' contract)
        d = 1.0 - float(u @ v) / (np.sqrt(u @ u) * np.sqrt(v @ v))
        return 1.0 - np.floor(d * 1e6 + 0.5) / 1e6

    q = emb[0]
    rel = {i: sim(v, q) for i, v in emb.items() if i != 0}
    short = sorted(rel, key=lambda i: (-rel[i], i))[:MMR_N]
    assert pure_ids == short[:MMR_K]

    sel: list[int] = [short[0]]
    while len(sel) < MMR_K:
        best = min(
            (i for i in short if i not in sel),
            key=lambda i: (
                -(MMR_LAMBDA * rel[i]
                  - (1 - MMR_LAMBDA) * max(sim(emb[i], emb[s]) for s in sel)),
                i,
            ),
        )
        sel.append(best)
    assert picked == sel


def test_mmr_rerank_matches_oracle_through_zero_vector(spark, dyadic_dir):
    """With the zero vector in the shortlist, its MMR score from rank 2 on
    is -inf + inf = NaN, which Spark and DuckDB order as the largest: the
    driver greedy must pick it where the oracle does. DuckDB's list
    functions reject a NULL element or a length mismatch, so the oracle
    reads only the valid rows; the shortlist never reaches the others."""
    from tools.check import frames_equal, normalize

    import duckdb

    from vector_db_from_scratch_spark.operators.knn import (
        knn_mmr_rerank,
        knn_mmr_rerank_oracle,
    )

    got = knn_mmr_rerank(spark, dyadic_dir, shortlist_n=DYADIC_SHORTLIST).toPandas()
    con = duckdb.connect()
    con.execute(
        f"""CREATE VIEW embeddings AS SELECT * FROM '{dyadic_dir}/embeddings.parquet'
            WHERE len(embedding) = 64
              AND NOT list_contains(list_transform(embedding, x -> x IS NULL), true)"""
    )
    want = con.execute(knn_mmr_rerank_oracle(shortlist_n=DYADIC_SHORTLIST)).fetchdf()
    ok, msg = frames_equal(normalize(got), normalize(want))
    assert ok, msg
    assert 7 in set(got["vec_id"])


def test_mmr_rerank_k_beyond_shortlist_returns_the_shortlist(spark, dyadic_dir):
    """k larger than the shortlist picks every shortlisted row once."""
    from vector_db_from_scratch_spark.operators.knn import knn_mmr_rerank

    rows = knn_mmr_rerank(
        spark, dyadic_dir, k=DYADIC_SHORTLIST + 2, shortlist_n=DYADIC_SHORTLIST
    ).collect()
    assert [r["rank"] for r in rows] == list(range(1, DYADIC_SHORTLIST + 1))
    assert len({r["vec_id"] for r in rows}) == DYADIC_SHORTLIST


def test_hard_negatives_are_cross_label_and_truly_nearest(spark, sf_dir):
    """Every mined negative has a different label from its anchor, and for
    one spot-checked anchor the distances equal the brute-force nearest
    other-label distances (ties broken by vec_id)."""
    import numpy as np
    import pyarrow.parquet as pq
    from decimal import Decimal, ROUND_HALF_UP

    from vector_db_from_scratch_spark.operators.knn import (
        HN_ANCHOR_MOD,
        HN_K,
        hard_negatives,
    )

    rows = hard_negatives(spark, sf_dir).collect()
    tbl = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pydict()
    label = dict(zip(tbl["vec_id"], tbl["label"]))
    vecs = {v: np.asarray(e, dtype=np.float64) for v, e in zip(tbl["vec_id"], tbl["embedding"])}
    assert rows
    assert all(r["anchor_id"] % HN_ANCHOR_MOD == 0 for r in rows)
    assert all(label[r["vec_id"]] != label[r["anchor_id"]] for r in rows)
    by_anchor: dict[int, list] = {}
    for r in rows:
        by_anchor.setdefault(r["anchor_id"], []).append(r)
    assert all(len(v) == HN_K for v in by_anchor.values())

    anchor = min(by_anchor)
    av = vecs[anchor]

    def dist(v):
        d = 1.0 - float(av @ vecs[v]) / (np.linalg.norm(av) * np.linalg.norm(vecs[v]))
        return float(Decimal(d).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))

    brute = sorted(
        ((dist(v), v) for v in vecs if label[v] != label[anchor]),
    )[:HN_K]
    got = [(r["distance"], r["vec_id"]) for r in sorted(by_anchor[anchor], key=lambda r: r["rank"])]
    assert got == brute


def test_hard_negatives_fast_equals_expression_twin(spark, twin_dir):
    """The Arrow GEMM kernel (the registered path) must equal the
    declarative expression twin bit for bit -- same rows, same order."""
    from vector_db_from_scratch_spark.operators.knn import (
        hard_negatives,
        hard_negatives_fast,
    )

    expr = hard_negatives(spark, twin_dir).collect()
    fast = hard_negatives_fast(spark, twin_dir).collect()
    assert [tuple(r) for r in fast] == [tuple(r) for r in expr]


def test_retrieval_mrr_matches_python_brute_force(spark, sf_dir):
    """Per-label MRR@k == a NumPy brute force replicating the full
    contract: round-6dp cosine, (distance, vec_id) tie-break, self
    excluded, half-up micro-unit reciprocal ranks, per-label means."""
    import numpy as np
    import pyarrow.parquet as pq
    from decimal import Decimal, ROUND_HALF_UP

    from vector_db_from_scratch_spark.operators.knn import (
        MRR_K,
        MRR_QMOD,
        retrieval_mrr,
    )

    tbl = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pydict()
    label = dict(zip(tbl["vec_id"], tbl["label"]))
    vecs = {
        v: np.asarray(e, dtype=np.float64)
        for v, e in zip(tbl["vec_id"], tbl["embedding"])
    }

    def dist(a, b):
        d = 1.0 - float(vecs[a] @ vecs[b]) / (
            np.linalg.norm(vecs[a]) * np.linalg.norm(vecs[b])
        )
        return float(Decimal(d).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))

    per_label: dict[int, list[int]] = {}
    for q in sorted(vecs):
        if q % MRR_QMOD != 0:
            continue
        ranked = sorted((dist(q, v), v) for v in vecs if v != q)[:MRR_K]
        rr_u = 0
        for rank, (_, v) in enumerate(ranked, start=1):
            if label[v] == label[q]:
                rr_u = (2 * 1_000_000 + rank) // (2 * rank)
                break
        per_label.setdefault(label[q], []).append(rr_u)

    rows = {r["label"]: r for r in retrieval_mrr(spark, sf_dir).collect()}
    assert set(rows) == set(per_label)
    for lab, rrs in per_label.items():
        r = rows[lab]
        assert r["n_queries"] == len(rrs)
        assert r["hits"] == sum(1 for x in rrs if x > 0)
        assert r["mrr"] == (sum(rrs) / 1_000_000) / len(rrs)
        assert r["hit_rate"] == r["hits"] / r["n_queries"]
    # embeddings are label-clustered: retrieval should mostly succeed
    total_hits = sum(r["hits"] for r in rows.values())
    total_q = sum(r["n_queries"] for r in rows.values())
    assert total_hits / total_q > 0.5


def test_retrieval_ndcg_matches_python_brute_force(spark, sf_dir):
    """Per-label nDCG@k == a NumPy brute force replicating the contract:
    literal discount table, half-up micro nDCG per query, integer-sum
    per-label means; also bounds: 0 <= mean_ndcg <= 1."""
    import numpy as np
    import pyarrow.parquet as pq
    from decimal import Decimal, ROUND_HALF_UP

    from vector_db_from_scratch_spark.operators.knn import (
        MRR_K,
        MRR_QMOD,
        _dcg_discount_rows,
        retrieval_ndcg,
    )

    tbl = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pydict()
    label = dict(zip(tbl["vec_id"], tbl["label"]))
    vecs = {
        v: np.asarray(e, dtype=np.float64)
        for v, e in zip(tbl["vec_id"], tbl["embedding"])
    }
    disc = {r: (du, cu) for r, du, cu in _dcg_discount_rows(MRR_K)}
    from collections import Counter

    lab_count = Counter(label.values())

    def dist(a, b):
        d = 1.0 - float(vecs[a] @ vecs[b]) / (
            np.linalg.norm(vecs[a]) * np.linalg.norm(vecs[b])
        )
        return float(Decimal(d).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))

    per_label: dict[int, list[int]] = {}
    for q in sorted(vecs):
        if q % MRR_QMOD != 0:
            continue
        m = min(lab_count[label[q]] - 1, MRR_K)
        if m < 1:
            continue
        ranked = sorted((dist(q, v), v) for v in vecs if v != q)[:MRR_K]
        dcg_u = sum(
            disc[i][0]
            for i, (_, v) in enumerate(ranked, start=1)
            if label[v] == label[q]
        )
        idcg_u = disc[m][1]
        ndcg_u = (2 * 1_000_000 * dcg_u + idcg_u) // (2 * idcg_u)
        per_label.setdefault(label[q], []).append(ndcg_u)

    rows = {r["label"]: r for r in retrieval_ndcg(spark, sf_dir).collect()}
    assert set(rows) == set(per_label)
    for lab, us in per_label.items():
        r = rows[lab]
        assert r["n_queries"] == len(us)
        assert r["mean_ndcg"] == (sum(us) / 1_000_000) / len(us)
        assert 0.0 <= r["mean_ndcg"] <= 1.0


def test_search_after_is_exactly_the_second_page(spark, sf_dir):
    """page1 (flat top-k) + search_after page == flat top-2k, in order and
    disjoint -- keyset pagination loses and duplicates nothing."""
    from vector_db_from_scratch_spark.operators.knn import flat_knn, knn_search_after

    k = 10
    p1 = flat_knn(spark, sf_dir, "cosine", k=k, query_vec_id=0).collect()
    p2 = knn_search_after(spark, sf_dir, "cosine", k=k, query_vec_id=0).collect()
    both = flat_knn(spark, sf_dir, "cosine", k=2 * k, query_vec_id=0).collect()
    assert [tuple(r) for r in p1] + [tuple(r) for r in p2] == [tuple(r) for r in both]


def test_late_interaction_single_token_degenerates_to_best_member(spark, sf_dir):
    """With one query token, MaxSim(doc) is just the doc's best member
    similarity -- the top doc must contain the flat top-1 neighbour of
    that token (vec_id 0 itself, similarity 1.0)."""
    from vector_db_from_scratch_spark.operators.knn import late_interaction_topk

    rows = late_interaction_topk(spark, sf_dir, k=3, num_qtokens=1).collect()
    labels = {
        r["vec_id"]: r["label"]
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "label")
        .collect()
    }
    assert rows[0]["label"] == labels[0]
    assert rows[0]["score"] == 1.0
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_recommend_positive_only_degenerates_to_flat_minus_self(spark, sf_dir):
    """With one positive and no negatives, recommend is flat_knn on that
    vector with the example itself excluded."""
    from vector_db_from_scratch_spark.operators.knn import knn_recommend

    reco = knn_recommend(
        spark, sf_dir, "cosine", k=5, positives=[0], negatives=[]
    ).collect()
    flat = flat_knn(spark, sf_dir, "cosine", k=6, query_vec_id=0).collect()
    flat_no_self = [(r["vec_id"], r["distance"]) for r in flat if r["vec_id"] != 0][:5]
    assert [(r["vec_id"], r["reco_distance"]) for r in reco] == flat_no_self


def test_recommend_excludes_examples_and_scores_best_minus_best(spark, sf_dir):
    """Default recommend: examples never appear, and every returned score is
    exactly min-positive-distance minus min-negative-distance for that row
    (recomputed through independent flat scans)."""
    from vector_db_from_scratch_spark.operators.knn import (
        RECO_NEG,
        RECO_POS,
        knn_recommend,
    )

    rows = knn_recommend(spark, sf_dir, "cosine", k=10).collect()
    assert len(rows) == 10
    assert not ({r["vec_id"] for r in rows} & set(RECO_POS + RECO_NEG))
    scores = [r["reco_distance"] for r in rows]
    assert scores == sorted(scores)

    # per-example distance maps via the already-tested flat scan (k = corpus)
    n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    dist = {}
    for ex in RECO_POS + RECO_NEG:
        d = flat_knn(spark, sf_dir, "cosine", k=n, query_vec_id=ex).collect()
        dist[ex] = {r["vec_id"]: r["distance"] for r in d}
    for r in rows:
        dp = min(dist[p][r["vec_id"]] for p in RECO_POS)
        dn = min(dist[q][r["vec_id"]] for q in RECO_NEG)
        assert r["reco_distance"] == dp - dn


def test_recommend_rejects_bad_requests(spark, sf_dir):
    from vector_db_from_scratch_spark.operators.knn import knn_recommend

    with pytest.raises(ValueError):
        knn_recommend(spark, sf_dir, k=0)
    with pytest.raises(ValueError):
        knn_recommend(spark, sf_dir, positives=[], negatives=[1])
    with pytest.raises(ValueError):
        knn_recommend(spark, sf_dir, positives=[10**9])  # unknown example id


def test_group_topk_ranks_groups_by_their_best_hit(spark, sf_dir):
    from vector_db_from_scratch_spark.operators.knn import (
        knn_group_topk,
        knn_per_label,
    )

    rows = knn_group_topk(
        spark, sf_dir, "cosine", k_groups=4, per_group=3, query_vec_id=0
    ).collect()
    by_group = {}
    for r in rows:
        by_group.setdefault((r["group_rank"], r["label"]), []).append(r)
    assert len(by_group) == 4
    # group order == order of each group's best distance
    bests = [
        min((r["distance"], r["vec_id"]) for r in hits)
        for (_, _), hits in sorted(by_group.items())
    ]
    assert bests == sorted(bests)
    # group 1 holds the global nearest hit
    flat = flat_knn(spark, sf_dir, "cosine", k=1, query_vec_id=0).collect()
    g1 = sorted(by_group.items())[0][1]
    assert min((r["distance"], r["vec_id"]) for r in g1) == (
        flat[0]["distance"],
        flat[0]["vec_id"],
    )
    # each group's hits equal the per-label top-k for that label
    per_label = knn_per_label(spark, sf_dir, "cosine", k=3, query_vec_id=0).collect()
    for (_, label), hits in by_group.items():
        want = [
            (r["rnk"], r["vec_id"]) for r in per_label if r["label"] == label
        ]
        got = sorted((r["hit_rank"], r["vec_id"]) for r in hits)
        assert got == sorted(want)


def test_distance_matrix_is_upper_triangle_of_the_sample(spark, sf_dir):
    from vector_db_from_scratch_spark.operators.knn import knn_distance_matrix

    rows = knn_distance_matrix(spark, sf_dir, "cosine", id_mod=50).collect()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ids = sorted(
        r["vec_id"] for r in emb.filter("vec_id % 50 = 0").select("vec_id").collect()
    )
    n = len(ids)
    assert len(rows) == n * (n - 1) // 2
    assert all(r["a_id"] < r["b_id"] for r in rows)
    assert {(r["a_id"], r["b_id"]) for r in rows} == {
        (a, b) for a in ids for b in ids if a < b
    }
    # spot-check one pair against the flat scan's distance for that query
    some = rows[0]
    d = flat_knn(spark, sf_dir, "cosine", k=n * 100, query_vec_id=some["a_id"]).collect()
    dmap = {r["vec_id"]: r["distance"] for r in d}
    assert some["distance"] == dmap[some["b_id"]]


def test_recommend_centroid_matches_python_reference(spark, sf_dir):
    """Average-vector recommend: the division-free integer-micro query build
    and the resulting top-k equal an independent Python replica."""
    import math
    from decimal import Decimal, ROUND_HALF_UP

    from vector_db_from_scratch_spark.operators.knn import (
        RECO_NEG,
        RECO_POS,
        knn_recommend_centroid,
    )

    rows = knn_recommend_centroid(spark, sf_dir, k=10).collect()
    assert len(rows) == 10
    assert not ({r["vec_id"] for r in rows} & set(RECO_POS + RECO_NEG))

    emb = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }

    def micro(x):
        # F.round(val * 1e6): BigDecimal HALF_UP on the exact binary double
        return int(Decimal(x * 1e6).quantize(Decimal("1"), rounding=ROUND_HALF_UP))

    dim = len(emb[RECO_POS[0]])
    w_pos, w_neg = len(RECO_NEG), len(RECO_POS)
    q = [
        w_pos * sum(micro(emb[p][d]) for p in RECO_POS)
        - w_neg * sum(micro(emb[n][d]) for n in RECO_NEG)
        for d in range(dim)
    ]

    def cos6(v):
        dot = sum(a * b for a, b in zip(v, q))
        nv = math.sqrt(sum(a * a for a in v))
        nq = math.sqrt(sum(float(b) * float(b) for b in q))
        if nv * nq == 0:
            return float("inf")
        d = 1.0 - dot / (nv * nq)
        return float(Decimal(d).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))

    scored = sorted(
        (cos6(v), vid)
        for vid, v in emb.items()
        if vid not in set(RECO_POS + RECO_NEG)
    )[:10]
    assert [(r["distance"], r["vec_id"]) for r in rows] == scored


def test_discovery_votes_and_order_match_python(spark, sf_dir):
    """Discovery search: integer pair votes + target tie-break equal a
    Python replica over the collected corpus."""
    from decimal import Decimal, ROUND_HALF_UP
    import math

    from vector_db_from_scratch_spark.operators.knn import (
        DISCOVERY_PAIRS,
        DISCOVERY_TARGET,
        knn_discovery,
    )

    rows = knn_discovery(spark, sf_dir, "cosine", k=10).collect()
    assert len(rows) == 10
    excluded = {DISCOVERY_TARGET} | {v for p in DISCOVERY_PAIRS for v in p}
    assert not ({r["vec_id"] for r in rows} & excluded)

    emb = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }

    def cos6(v, q):
        dot = sum(a * b for a, b in zip(v, q))
        nv = math.sqrt(sum(a * a for a in v))
        nq = math.sqrt(sum(b * b for b in q))
        if nv * nq == 0:
            return float("inf")
        return float(
            Decimal(1.0 - dot / (nv * nq)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )

    scored = sorted(
        (
            -sum(
                1
                for a, b in DISCOVERY_PAIRS
                if cos6(v, emb[a]) < cos6(v, emb[b])
            ),
            cos6(v, emb[DISCOVERY_TARGET]),
            vid,
        )
        for vid, v in emb.items()
        if vid not in excluded
    )[:10]
    assert [
        (-r["context_score"], r["target_distance"], r["vec_id"]) for r in rows
    ] == scored


def test_recommend_filter_composes_with_exclusion(spark, sf_dir):
    """Filtered recommend: every hit carries the filter label, none is an
    example, and results equal the unfiltered scores restricted to the
    label (the filter must not change any surviving score)."""
    from vector_db_from_scratch_spark.operators.knn import (
        RECO_NEG,
        RECO_POS,
        knn_recommend,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    allowed = {
        r["vec_id"] for r in emb.filter("label = 5").select("vec_id").collect()
    }
    rows = knn_recommend(spark, sf_dir, k=10, label_filter=5).collect()
    assert rows
    assert all(r["vec_id"] in allowed for r in rows)
    assert not ({r["vec_id"] for r in rows} & set(RECO_POS + RECO_NEG))

    n = emb.count()
    full = knn_recommend(spark, sf_dir, k=n).collect()
    full_scores = {r["vec_id"]: r["reco_distance"] for r in full}
    for r in rows:
        assert r["reco_distance"] == full_scores[r["vec_id"]]
