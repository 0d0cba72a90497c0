"""Entity-store CRUD + search scenarios mirroring the reference suite
(tests/test_vector_store.py, tests/test_services.py -- uniqueness, frozen
fields, cascades, filters, ordering, batch validation, pagination)."""

import math

import pytest

from vector_db_from_scratch_spark.operators.entity import (
    BatchTooLargeError,
    DimensionMismatchError,
    DuplicateError,
    EntityError,
    FrozenFieldError,
    NotFoundError,
    demo_store,
)


@pytest.fixture(scope="module")
def store(spark):
    return demo_store(spark)


def test_create_library_uniqueness(store):
    with pytest.raises(DuplicateError):
        store.create_library(
            dict(library_id="lib-cos", name="dup", description=None, metadata={},
                 embedding_dimension=3, distance_metric="cosine", index_kind="flat")
        )


def test_create_document_fk_guard(store):
    with pytest.raises(NotFoundError):
        store.create_document(
            dict(document_id="doc-x", library_id="lib-missing", name="x", metadata={})
        )


def test_frozen_index_settings_with_chunks(store):
    with pytest.raises(FrozenFieldError):
        store.update_library("lib-cos", {"embedding_dimension": 5})
    # name change is allowed
    s2 = store.update_library("lib-cos", {"name": "renamed"})
    assert s2.libraries.filter("library_id = 'lib-cos'").collect()[0]["name"] == "renamed"


def test_cascade_delete_library(store):
    s2 = store.delete_library("lib-cos")
    assert s2.documents.filter("library_id = 'lib-cos'").count() == 0
    assert s2.list_chunks(library_id="lib-cos").count() == 0
    # other libraries untouched
    assert s2.list_chunks(library_id="lib-euc").count() == 2


def test_counts_derived(store):
    counts = {r["library_id"]: (r["document_count"], r["chunk_count"])
              for r in store.library_counts().collect()}
    assert counts["lib-cos"] == (2, 6)
    assert counts["lib-euc"] == (1, 2)
    assert counts["lib-lsh"] == (1, 2)


def test_chunk_dim_validation_before_any_insert(store):
    rows = [
        dict(chunk_id="new-1", document_id="doc-a", text="ok",
             embedding=[1.0, 0.0, 0.0], metadata={}, chunk_index=10),
        dict(chunk_id="new-2", document_id="doc-a", text="bad",
             embedding=[1.0, 0.0], metadata={}, chunk_index=11),
    ]
    with pytest.raises(DimensionMismatchError):
        store.add_chunks(rows)
    # nothing inserted (validate-then-apply)
    assert store.chunks.filter("chunk_id = 'new-1'").count() == 0


def test_batch_cap(store):
    row = dict(chunk_id="c", document_id="doc-a", text="t",
               embedding=[0.0, 0.0, 0.0], metadata={}, chunk_index=0)
    with pytest.raises(BatchTooLargeError):
        store.add_chunks([dict(row, chunk_id=f"c{i}") for i in range(1001)])


def test_batch_single_document_rule(store):
    rows = [
        dict(chunk_id="m1", document_id="doc-a", text="t",
             embedding=[0.0, 0.0, 0.0], metadata={}, chunk_index=0),
        dict(chunk_id="m2", document_id="doc-b", text="t",
             embedding=[0.0, 0.0, 0.0], metadata={}, chunk_index=0),
    ]
    with pytest.raises(EntityError):
        store.add_chunks(rows)


def test_search_ordering_and_ties(store):
    res = store.search("lib-cos", [1.0, 0.0, 0.0], k=10).collect()
    ids = [r["chunk_id"] for r in res]
    assert ids[0] == "ch-1"  # exact match first
    # ch-4 and ch-5 are identical embeddings -> tie broken by chunk_id
    i4, i5 = ids.index("ch-4"), ids.index("ch-5")
    assert i4 < i5
    # zero vector present with +inf distance, sorted last
    assert ids[-1] == "ch-6"
    assert math.isinf(res[-1]["distance"])


def test_search_metadata_filter_subset(store):
    res = store.search("lib-cos", [1.0, 0.0, 0.0], k=10,
                       metadata_filters={"tag": "alpha"}).collect()
    assert {r["chunk_id"] for r in res} == {"ch-1", "ch-4", "ch-6"}


def test_search_conjunctive_filter(store):
    res = store.search("lib-cos", [1.0, 0.0, 0.0], k=10,
                       metadata_filters={"source": "pdf", "page": "5"}).collect()
    assert [r["chunk_id"] for r in res] == ["ch-3"]


def test_search_filter_no_match_empty(store):
    assert store.search("lib-cos", [1.0, 0.0, 0.0], k=10,
                        metadata_filters={"tag": "nope"}).count() == 0


def test_search_dimension_guard(store):
    with pytest.raises(DimensionMismatchError):
        store.search("lib-cos", [1.0, 0.0], k=3)


def test_search_k_guard(store):
    with pytest.raises(EntityError):
        store.search("lib-cos", [1.0, 0.0, 0.0], k=0)


def test_update_chunk_embedding_reflected_in_search(store):
    s2 = store.update_chunk("ch-2", {"embedding": [0.9, 0.1, 0.0]})
    res = s2.search("lib-cos", [1.0, 0.0, 0.0], k=2).collect()
    assert [r["chunk_id"] for r in res] == ["ch-1", "ch-2"]


def test_update_chunk_frozen_fk(store):
    with pytest.raises(FrozenFieldError):
        store.update_chunk("ch-1", {"document_id": "doc-b"})


def test_dot_product_metric_negated(store):
    res = store.search("lib-dot", [1.0, 1.0, 1.0], k=1).collect()
    assert res[0]["chunk_id"] == "ch-9"
    assert res[0]["distance"] == pytest.approx(-6.0)


def test_pagination_math(store):
    page1 = store.list_chunks(library_id="lib-cos", skip=0, limit=4).collect()
    page2 = store.list_chunks(library_id="lib-cos", skip=4, limit=4).collect()
    assert len(page1) == 4 and len(page2) == 2
    assert {r["chunk_id"] for r in page1} | {r["chunk_id"] for r in page2} == {
        f"ch-{i}" for i in range(1, 7)
    }


def test_listing_drops_embedding(store):
    cols = store.list_chunks(document_id="doc-a").columns
    assert "embedding" not in cols


def test_store_roundtrip_parquet_and_json(store, spark, tmp_path):
    """Persistence parity (reference test_disk_persistence.py:240-271):
    search results must be identical after save/load, in both formats."""
    from vector_db_from_scratch_spark.operators.entity import load_store, save_store

    before = store.search("lib-cos", [1.0, 0.0, 0.0], k=5).collect()
    for fmt in ("parquet", "json"):
        path = str(tmp_path / fmt)
        save_store(store, path, fmt)
        reloaded = load_store(spark, path, fmt)
        after = reloaded.search("lib-cos", [1.0, 0.0, 0.0], k=5).collect()
        assert [(r["chunk_id"], r["distance"]) for r in before] == [
            (r["chunk_id"], r["distance"]) for r in after
        ], fmt


def test_lsh_library_search_dispatch(store):
    """random_projection libraries route through the bucket probe; with only
    2 chunks (< k) the fallback widens to all, matching flat results
    (reference tests/test_vector_store.py:208-221)."""
    res = store.search("lib-lsh", [1.0, 0.0, 1.0], k=2).collect()
    assert [r["chunk_id"] for r in res] == ["ch-10", "ch-11"]
    assert res[0]["distance"] == pytest.approx(0.0, abs=1e-6)


def test_lsh_library_probe_tightens_with_small_k(store, spark):
    """With k=1 the bucket probe may return only same-bucket chunks; the
    result must still be the true nearest (self bucket contains the match)."""
    res = store.search("lib-lsh", [1.0, 0.0, 1.0], k=1).collect()
    assert [r["chunk_id"] for r in res] == ["ch-10"]


def test_store_over_driver_tables_search(spark, sf_dir):
    """Entity search over the real driver tables (sources as libraries):
    results must equal a hand-built flat k-NN over the same scoped subset."""
    from pyspark.sql import functions as F

    from vector_db_from_scratch_spark.functions.vector import distance_expr
    from vector_db_from_scratch_spark.operators.entity import store_from_driver_tables

    s = store_from_driver_tables(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = [float(x) for x in emb.filter("vec_id = 0").collect()[0]["embedding"]]

    got = s.search("src1", qvec, k=5).collect()

    scoped = (
        docs.filter(F.col("source") == "src1")
        .join(emb, docs["doc_id"] == emb["vec_id"])
        .select(
            F.concat(F.lit("c"), F.col("doc_id")).alias("chunk_id"),
            distance_expr(
                "cosine",
                F.col("embedding"),
                F.array(*[F.lit(x) for x in qvec]),
            ).alias("distance"),
        )
        .orderBy("distance", "chunk_id")
        .limit(5)
        .collect()
    )
    assert [(r["chunk_id"], r["distance"]) for r in got] == [
        (r["chunk_id"], r["distance"]) for r in scoped
    ]


def test_store_over_driver_tables_counts(spark, sf_dir):
    from vector_db_from_scratch_spark.operators.entity import store_from_driver_tables

    s = store_from_driver_tables(spark, sf_dir)
    counts = {r["library_id"]: r["document_count"] for r in s.library_counts().collect()}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    want = {r["source"]: r["count"] for r in docs.groupBy("source").count().collect()}
    assert counts == want


def test_store_recommend_best_score_and_guards(store):
    """Recommend through the entity surface: known geometry — in lib-cos,
    positive ch-1 (x axis) and negative ch-2 (y axis) must rank the
    diagonal chunks by closeness-to-x minus closeness-to-y; examples
    excluded; guards raise."""
    rows = store.recommend("lib-cos", ["ch-1"], ["ch-2"], k=10).collect()
    ids = [r["chunk_id"] for r in rows]
    assert "ch-1" not in ids and "ch-2" not in ids
    scores = {r["chunk_id"]: r["reco_distance"] for r in rows}
    # ch-4/ch-5 (1,1,0) are equidistant to x and y: score 0; ch-3 (z axis)
    # is orthogonal to both: score 0; ch-6 (zero vector) hits the +inf
    # guard and sorts last
    assert scores["ch-4"] == 0.0 and scores["ch-5"] == 0.0
    assert scores["ch-6"] == math.inf
    assert ids[-1] == "ch-6"

    with pytest.raises(EntityError):
        store.recommend("lib-cos", [], ["ch-2"])
    with pytest.raises(EntityError):
        store.recommend("lib-cos", ["ch-1"], k=0)
    with pytest.raises(NotFoundError):
        store.recommend("lib-cos", ["nope"])

    # positive-only degenerates to search ordering by distance-to-example
    reco = store.recommend("lib-cos", ["ch-1"], k=10).collect()
    hits = store.search("lib-cos", [1.0, 0.0, 0.0], k=10).collect()
    want = [(r["chunk_id"], r["distance"]) for r in hits if r["chunk_id"] != "ch-1"]
    assert [(r["chunk_id"], r["reco_distance"]) for r in reco] == want


def test_library_catalog_tracks_library_crud(spark):
    """The driver-side library catalog that the guards read must equal the
    libraries table after every library mutation (each derived store
    collects its own), and a deleted id is gone from it."""
    s0 = demo_store(spark)
    s1 = s0.create_library(
        dict(library_id="lib-new", name="new", description=None, metadata={},
             embedding_dimension=3, distance_metric="cosine", index_kind="flat")
    )
    s2 = s1.update_library("lib-new", {"name": "renamed"})
    s3 = s2.delete_library("lib-cos")
    for st in (s0, s1, s2, s3):
        table = {r["library_id"]: r.asDict() for r in st.libraries.collect()}
        assert set(st._libraries()) == set(table)
        for library_id, row in table.items():
            assert st._library(library_id) == row
    assert s2._library("lib-new")["name"] == "renamed"
    with pytest.raises(NotFoundError):
        s3._library("lib-cos")
    # chunk/document mutations keep the libraries table, so they share it
    assert s0.delete_chunk("ch-1").catalog is s0.catalog


def test_entity_calls_eager_job_counts(spark):
    """Eager Spark work each call runs before it returns, counted under a
    job group. AQE is off so that one action is one job: demo_store's
    tables have no size statistics, so every join plans as a sort-merge
    join inside that job (AQE would add a job per query stage). Building
    a flat or filtered search runs no job, an LSH search only its <k
    fallback count, add_chunks one lookup and update_chunk one lookup,
    with or without a new embedding to validate."""
    import uuid

    sc = spark.sparkContext

    def jobs(fn) -> int:
        group = f"entity-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    store = demo_store(spark)
    assert jobs(lambda: store._library("lib-cos")) == 1  # the catalog, once
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        q = [1.0, 0.0, 0.0]
        assert jobs(lambda: store.search("lib-cos", q, k=3)) == 0
        assert jobs(lambda: store.search("lib-cos", q, k=3,
                                         metadata_filters={"tag": "alpha"})) == 0
        assert jobs(lambda: store.search("lib-lsh", [1.0, 0.0, 1.0], k=1)) == 1
        row = dict(chunk_id="new-jobs", document_id="doc-a", text="t",
                   embedding=[1.0, 0.0, 0.0], metadata={}, chunk_index=9)
        assert jobs(lambda: store.add_chunks([row])) == 1
        assert jobs(lambda: store.update_chunk("ch-2", {"embedding": [0.9, 0.1, 0.0]})) == 1
        assert jobs(lambda: store.update_chunk("ch-2", {"text": "t2"})) == 1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)


def test_write_guards_raise_in_order_after_one_lookup(store):
    """add_chunks and update_chunk answer their lookups in one job, then
    raise in the order the separate guards did: NotFound, then
    DimensionMismatch, then Duplicate."""
    def rows(doc, dim, cid="ch-1"):
        return [dict(chunk_id=cid, document_id=doc, text="t",
                     embedding=[1.0] * dim, metadata={}, chunk_index=0)]

    with pytest.raises(NotFoundError, match="document doc-missing not found"):
        store.add_chunks(rows("doc-missing", 2))
    with pytest.raises(DimensionMismatchError):
        store.add_chunks(rows("doc-a", 2))
    with pytest.raises(DuplicateError, match=r"chunks exist: \['ch-1'\]"):
        store.add_chunks(rows("doc-a", 3))
    with pytest.raises(NotFoundError, match="chunk ch-missing not found"):
        store.update_chunk("ch-missing", {"chunk_id": "x"})
    with pytest.raises(DimensionMismatchError):
        store.update_chunk("ch-1", {"embedding": [1.0]})
    # an orphan chunk (its document deleted) cannot be re-embedded
    from vector_db_from_scratch_spark.operators.entity import EntityStore

    orphaned = EntityStore(
        libraries=store.libraries,
        documents=store.documents.filter("document_id != 'doc-a'"),
        chunks=store.chunks,
    )
    with pytest.raises(NotFoundError, match="document doc-a not found"):
        orphaned.update_chunk("ch-1", {"embedding": [1.0, 0.0, 0.0]})
