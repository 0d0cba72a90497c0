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
    with or without a new embedding to validate. delete_chunk and a text
    update of a delta chunk run none; a new embedding for a delta chunk
    runs one (its document's library). Building a flat search over a
    written store runs none (its delta relation is local)."""
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
        assert jobs(lambda: store.delete_chunk("ch-2")) == 0
        written = store.add_chunks([row])
        assert jobs(lambda: written.update_chunk("new-jobs", {"text": "t2"})) == 0
        assert jobs(lambda: written.update_chunk("new-jobs", {"embedding": [0.0, 1.0, 0.0]})) == 1
        written = written.update_chunk("ch-2", {"embedding": [0.9, 0.1, 0.0]}).delete_chunk("ch-3")
        assert jobs(lambda: written.search("lib-cos", q, k=3)) == 0
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


@pytest.mark.parametrize("method,target", [
    ("update_chunk", "ch-1"),
    ("update_document", "doc-a"),
    ("update_library", "lib-cos"),
])
def test_update_unknown_field_raises_entity_error(store, method, target):
    """A key outside the table's columns is an EntityError naming it, raised
    where the frozen-field check raises: after NotFound, after Frozen."""
    with pytest.raises(EntityError, match="unknown .* field: colour") as err:
        getattr(store, method)(target, {"colour": "red"})
    assert type(err.value) is EntityError
    with pytest.raises(NotFoundError):
        getattr(store, method)("missing", {"colour": "red"})
    frozen = {"update_chunk": "chunk_id", "update_document": "document_id",
              "update_library": "library_id"}[method]
    with pytest.raises(FrozenFieldError):
        getattr(store, method)(target, {"colour": "red", frozen: "x"})


def _round6_spark(x: float) -> float:
    """Spark's ``round(x, 6) + 0.0`` on a double: HALF_UP on the shortest
    decimal form."""
    from decimal import ROUND_HALF_UP, Decimal

    if not math.isfinite(x):
        return x
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP)) + 0.0


def _cosine_model(v, q) -> float:
    dot = lambda a, b: sum(float(x) * float(y) for x, y in zip(a, b))  # noqa: E731
    denom = math.sqrt(dot(v, v)) * math.sqrt(dot(q, q))
    return math.inf if denom == 0.0 else 1.0 - dot(v, q) / denom


@pytest.mark.parametrize("seed,compact_at", [(0, None), (1, 6)])
def test_delta_store_matches_dict_model(spark, monkeypatch, seed, compact_at):
    """Seeded add/update/delete sequences against a dict model. A fixed
    prefix covers updates and deletes of delta rows, a re-add after a
    delete, duplicates against a delta row and an updated base row, and an
    update after a delete; random steps follow. After every step: flat
    search equals the model's exact top-k, and the chunk count, listing,
    library counts and embeddings read back equal the model. The second
    sequence lowers the compaction threshold so the delta folds into a
    new base along the way. Every tombstone names a base row: a delta
    row's update or delete adds none."""
    import numpy as np

    from vector_db_from_scratch_spark.operators import entity

    if compact_at is not None:
        monkeypatch.setattr(entity, "COMPACT_AT", compact_at)
    rng = np.random.default_rng(seed)
    doc_lib = {"doc-a": "lib-cos", "doc-b": "lib-cos", "doc-e": "lib-euc",
               "doc-d": "lib-dot", "doc-l": "lib-lsh", "doc-s": "lib-lsh-seeded"}
    # checkpointed, so no step re-reads the fixture's pickled rows through
    # Python workers
    fixture = demo_store(spark)
    store = entity.EntityStore(*(df.localCheckpoint() for df in (
        fixture.libraries, fixture.documents, fixture.chunks)))
    model = {r["chunk_id"]: (r["document_id"], r["text"], [float(x) for x in r["embedding"]])
             for r in store.chunks.collect()}
    dead: list[str] = []
    compactions = 0
    n_new = 0

    def vec():  # dyadic k/8: exact in float32, exact dot products
        return [float(x) for x in rng.integers(-8, 9, 3) / 8]

    def add(doc, ids):
        rows = [dict(chunk_id=c, document_id=doc, text=f"t-{c}", embedding=vec(),
                     metadata={}, chunk_index=i) for i, c in enumerate(ids)]
        return rows, lambda st: st.add_chunks(rows)

    def check(st):
        q = vec()
        got = [(r["chunk_id"], r["distance"]) for r in st.search("lib-cos", q, k=5).collect()]
        scored = sorted((_round6_spark(_cosine_model(e, q)), c)
                        for c, (d, _, e) in model.items() if doc_lib[d] == "lib-cos")
        assert got == [(c, d) for d, c in scored[:5]]
        assert st.chunks.count() == len(model)
        listed = [(r["chunk_id"], r["document_id"], r["text"])
                  for r in st.list_chunks(library_id="lib-cos", limit=1000).collect()]
        assert listed == sorted((c, d, t) for c, (d, t, _) in model.items()
                                if doc_lib[d] == "lib-cos")
        counts = {r["library_id"]: r["chunk_count"] for r in st.library_counts().collect()}
        want = {lib: 0 for lib in set(doc_lib.values())}
        for d, _, _ in model.values():
            want[doc_lib[d]] += 1
        assert counts == want
        back = {r["chunk_id"]: [float(x) for x in r["embedding"]]
                for r in st.chunks.select("chunk_id", "embedding").collect()}
        assert back == {c: e for c, (_, _, e) in model.items()}
        assert st.tombstones <= {r["chunk_id"] for r in st.base.select("chunk_id").collect()}

    def step(op, *args):
        nonlocal store, compactions, n_new
        if op == "add":
            doc, ids = args
            rows, fn = add(doc, ids)
            new = fn(store)
            for r in rows:
                model[r["chunk_id"]] = (doc, r["text"], r["embedding"])
                if r["chunk_id"] in dead:
                    dead.remove(r["chunk_id"])
        elif op == "dup":
            doc, ids = args
            with pytest.raises(DuplicateError):
                add(doc, ids)[1](store)
            return
        elif op == "update":
            cid, field = args
            value = vec() if field == "embedding" else f"u-{cid}"
            new = store.update_chunk(cid, {field: value})
            d, t, e = model[cid]
            model[cid] = (d, value, e) if field == "text" else (d, t, value)
        elif op == "update_dead":
            with pytest.raises(NotFoundError):
                store.update_chunk(args[0], {"text": "x"})
            return
        else:
            new = store.delete_chunk(args[0])
            del model[args[0]]
            dead.append(args[0])
        if compact_at is not None and not new.delta and not new.tombstones \
                and new.base is not store.base:
            compactions += 1
        store = new
        check(store)

    prefix = [
        ("add", "doc-a", ["n-0", "n-1"]),
        ("update", "n-0", "text"),          # a delta row, no lookup
        ("update", "n-1", "embedding"),     # a delta row, library looked up
        ("delete", "n-0"),                  # a delta row
        ("delete", "ch-1"),                 # a base row
        ("update_dead", "ch-1"),
        ("add", "doc-b", ["ch-1"]),         # re-add after a delete
        ("dup", "doc-a", ["n-1"]),          # against a delta row
        ("update", "ch-2", "embedding"),    # a base row moves to the delta
        ("dup", "doc-b", ["ch-2"]),
        ("update", "ch-4", "text"),         # a base row, no library lookup
        ("update", "ch-4", "embedding"),    # now a delta row
    ]
    for op, *args in prefix:
        step(op, *args)
    for _ in range(8):
        live = sorted(model)
        kind = rng.choice(["add", "update", "delete", "dead"], p=[0.35, 0.3, 0.25, 0.1])
        if kind == "add":
            n_new += 1
            ids = [f"r-{n_new}-{i}" for i in range(int(rng.integers(1, 4)))]
            if dead and rng.random() < 0.5:
                ids.append(dead[0])
            step("add", str(rng.choice(["doc-a", "doc-b", "doc-e"])), ids)
        elif kind == "update":
            step("update", str(rng.choice(live)), str(rng.choice(["text", "embedding"])))
        elif kind == "delete":
            step("delete", str(rng.choice(live)))
        elif dead:
            step("update_dead", dead[-1])
    if compact_at is not None:
        assert compactions >= 1


def test_add_chunks_lookup_quotes_ids(spark):
    """The base lookup's ``chunk_id IN (...)`` text quotes each id: ids with
    quotes and backslashes are found in the base (DuplicateError) and a
    tombstone on one of them is honoured."""
    from vector_db_from_scratch_spark.operators.entity import EntityStore

    odd = ["it's", "back\\slash", "both\\'"]
    rows = [dict(chunk_id=c, document_id="doc-a", text="t", embedding=[1.0, 0.0, 0.0],
                 metadata={}, chunk_index=i) for i, c in enumerate(odd)]
    written = demo_store(spark).add_chunks(rows)
    rebased = EntityStore(written.libraries, written.documents, written.chunks)
    for r in rows:
        with pytest.raises(DuplicateError, match="chunks exist"):
            rebased.add_chunks([r])
    gone = rebased.delete_chunk(odd[0])
    assert {r["chunk_id"] for r in gone.chunks.collect()} >= set(odd[1:])
    assert gone.chunks.filter(gone.chunks["chunk_id"] == odd[0]).count() == 0
    assert gone.add_chunks([rows[0]]).chunks.count() == written.chunks.count()


def test_malformed_chunk_rows_raise_at_write(spark):
    """Rows are checked against the chunk schema when they are written, by
    the verifier ``createDataFrame`` runs: a wrong element type, an int out
    of range or None in a non-nullable field raises in add_chunks or
    update_chunk, and the store it was called on (and one derived from it)
    still reads. A string field takes any value's string form, as it does
    in ``createDataFrame``."""
    from pyspark.sql import functions as F

    from vector_db_from_scratch_spark.operators.entity import EntityStore

    demo = demo_store(spark)
    # chunk_index non-nullable, as in store_from_driver_tables
    store = EntityStore(demo.libraries, demo.documents, demo.chunks.withColumn(
        "chunk_index", F.coalesce("chunk_index", F.lit(0))))
    written = store.add_chunks([dict(chunk_id="n-1", document_id="doc-a", text="t",
                                     embedding=[1.0, 0.0, 0.0], metadata={}, chunk_index=0)])

    def row(**kw):
        return {**dict(chunk_id="n-2", document_id="doc-a", text="t",
                       embedding=[1.0, 0.0, 0.0], metadata={}, chunk_index=1), **kw}

    for bad in (dict(embedding=["a", "b", "c"]), dict(chunk_index=2 ** 40),
                dict(chunk_index=None), dict(chunk_index="1")):
        for st in (store, written):
            with pytest.raises((TypeError, ValueError)):
                st.add_chunks([row(**bad)])
    for cid in ("ch-1", "n-1"):
        with pytest.raises((TypeError, ValueError)):
            written.update_chunk(cid, {"chunk_index": None})
        with pytest.raises((TypeError, ValueError)):
            written.update_chunk(cid, {"embedding": [1.0, "x", 0.0]})
    assert store.chunks.count() == 13
    assert written.chunks.count() == 14
    texts = written.add_chunks([row(text=5)]).update_chunk("n-1", {"text": 7}).chunks
    assert {r["chunk_id"]: r["text"] for r in texts.filter("chunk_id LIKE 'n-%'").collect()} \
        == {"n-1": "7", "n-2": "5"}
