"""The reference's entity model (Library -> Document -> Chunk) as columnar
DataFrames with batch-MERGE CRUD semantics.

Reference parity (SURVEY.md §1, §2.8):
  - hierarchy + FK validation      vector_db/vector_store.py:92-93,152-153
  - uniqueness on insert           vector_db/vector_store.py:33-42
  - frozen fields (id/FK; index settings while chunks exist)
                                   vector_db/vector_store.py:56-65,120-125,192-197
  - cascade deletes                vector_db/vector_store.py:74-87,131-147
  - dimension validation           vector_db/entities.py:138-146
  - batch insert: all-validated-before-any-insert, cap 1000
                                   vector_db/services.py:144-162, schemas.py:90
  - counters derived, not stored   (A1 -> groupBy().count(); the reference's
                                   incremental counters are stored state)
  - metadata conjunctive equality  vector_db/vector_store.py:261-265
    (missing key fails the predicate -- MapType NULL-compare gives this)
  - search = scoped chunks -> filter -> distance -> top-k
                                   vector_db/vector_store.py:229-259

HOW diverges by design: every mutation returns a NEW store, not an
in-place dict mutation under a lock. The chunk table is LSM-shaped: a base
DataFrame, a tombstone set of chunk ids removed from it, and a delta of
written rows held on the driver. ``add_chunks``, ``update_chunk`` and
``delete_chunk`` look up the base only (at most one job) and change the
delta and tombstones, so a write costs O(batch), not O(write history); a
read sees base - tombstones + delta (the delta as one Arrow-built local
relation), assembled once per store. Past ``COMPACT_AT`` delta rows plus
tombstones, the parts fold into a new base. Library and document
mutations stay DataFrame transformations (append / MERGE overwrite /
anti-join delete); at scale each table is a parquet/Delta table, the
delta is a small segment, and compaction is the batch job that rewrites
the base. The other driver state is the library catalog (the reference's
``Dict[UUID, Library]``): the small libraries table, collected once and
shared by every store derived with the same ``libraries`` DataFrame, so the
guards of search and CRUD read it without a Spark job.
"""

from __future__ import annotations

import hashlib

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vector import distance_expr
from . import _memo

MAX_BATCH = 1000  # vector_db/schemas.py:90
# a store whose delta rows plus tombstones pass this folds them into a new
# base with one localCheckpoint() job; it bounds the rows held on the
# driver and the tombstone IN-list that every read of the store carries
COMPACT_AT = 10 * MAX_BATCH


class EntityError(ValueError):
    """Base for entity-model constraint violations (the analog of the
    reference's typed exception hierarchy, vector_db/exceptions.py)."""


class NotFoundError(EntityError):
    pass


class DuplicateError(EntityError):
    pass


class FrozenFieldError(EntityError):
    pass


class DimensionMismatchError(EntityError):
    pass


class BatchTooLargeError(EntityError):
    pass


class _Catalog:
    """``library_id`` -> row dict of one ``libraries`` DataFrame, collected
    on first use (``rows is None`` until then)."""

    __slots__ = ("libraries", "rows")

    def __init__(self, libraries: DataFrame):
        self.libraries = libraries
        self.rows: dict[str, dict] | None = None


def _sql_strings(values) -> str:
    """Comma-separated Spark SQL string literals: one ``F.expr`` parse in
    place of one py4j call per ``F.lit``."""
    return ", ".join(
        "'" + str(v).replace("\\", "\\\\").replace("'", "\\'") + "'" for v in values
    )


class EntityStore:
    """One immutable version of the three tables. Every mutation returns a
    new store and leaves this one as it was.

    ``chunks`` is the full logical chunk table, derived from three parts:
    ``base`` (a DataFrame), minus ``tombstones`` (chunk ids), plus
    ``delta`` (``chunk_id -> row``, held on the driver; every row passed
    the base schema's type check when it was written). The DataFrame is
    assembled once, on first read, with the delta as one Arrow-built local
    relation."""

    __slots__ = ("libraries", "documents", "base", "delta", "tombstones", "catalog", "_chunks")

    def __init__(
        self,
        libraries: DataFrame,
        documents: DataFrame,
        chunks: DataFrame,
        catalog: _Catalog | None = None,
        delta: dict[str, dict] | None = None,
        tombstones: frozenset[str] = frozenset(),
    ):
        self.libraries = libraries
        self.documents = documents
        self.base = chunks
        self.delta = delta or {}
        self.tombstones = tombstones
        # shared by every store derived with the same libraries DataFrame; a
        # library mutation gets a fresh lazy one
        if catalog is None or catalog.libraries is not libraries:
            catalog = _Catalog(libraries)
        self.catalog = catalog
        self._chunks: DataFrame | None = None

    def _replace(self, **changes) -> "EntityStore":
        parts = dict(
            libraries=self.libraries, documents=self.documents, chunks=self.base,
            catalog=self.catalog, delta=self.delta, tombstones=self.tombstones,
        )
        parts.update(changes)
        store = EntityStore(**parts)
        if len(store.delta) + len(store.tombstones) > COMPACT_AT:
            store = EntityStore(
                store.libraries, store.documents, store.chunks.localCheckpoint(),
                catalog=store.catalog,
            )
        return store

    @property
    def chunks(self) -> DataFrame:
        if self._chunks is None:
            df = self.base
            if self.tombstones:
                df = df.filter(F.expr(f"NOT chunk_id IN ({_sql_strings(sorted(self.tombstones))})"))
            if self.delta:
                import pandas as pd

                from ..sources.tables import arrow_local_df

                schema = self.base.schema
                rows = list(self.delta.values())
                data = {f.name: pd.Series([r[f.name] for r in rows], dtype=object) for f in schema}
                df = df.unionByName(arrow_local_df(df.sparkSession, data, schema))
            self._chunks = df
        return self._chunks

    # -- lookups / guards (F5: a catalog hit for libraries, cardinality --
    # -- checks for documents and chunks) ----------------------------------

    def _libraries(self) -> dict[str, dict]:
        cat = self.catalog
        if cat.rows is None:
            cat.rows = {r["library_id"]: r.asDict() for r in self.libraries.collect()}
        return cat.rows

    def _library(self, library_id: str) -> dict:
        row = self._libraries().get(library_id)
        if row is None:
            raise NotFoundError(f"library {library_id} not found")
        return dict(row)

    def _document(self, document_id: str) -> dict:
        rows = self.documents.filter(F.col("document_id") == document_id).collect()
        if not rows:
            raise NotFoundError(f"document {document_id} not found")
        return rows[0].asDict()

    @staticmethod
    def _known_fields(table: str, columns: list[str], updates: dict) -> None:
        unknown = [k for k in updates if k not in columns]
        if unknown:
            raise EntityError(f"unknown {table} field: {unknown[0]}")

    # -- library CRUD (D1-D3) ----------------------------------------------

    def create_library(self, row: dict) -> "EntityStore":
        if row["library_id"] in self._libraries():
            raise DuplicateError(f"library {row['library_id']} exists")
        if row["embedding_dimension"] <= 0:
            raise DimensionMismatchError("embedding_dimension must be > 0")
        if row.get("num_projections") is not None and row["num_projections"] <= 0:
            raise EntityError("num_projections must be positive")  # indexes.py:181
        row = {f.name: row.get(f.name) for f in self.libraries.schema.fields}
        new = self.libraries.sparkSession.createDataFrame([row], self.libraries.schema)
        return self._replace(libraries=self.libraries.unionByName(new))

    def update_library(self, library_id: str, updates: dict) -> "EntityStore":
        """PATCH semantics (P4): unset fields keep their value via MERGE-style
        conditional overwrite; index settings are frozen while chunks exist."""
        self._library(library_id)
        if {
            "embedding_dimension",
            "index_kind",
            "distance_metric",
            "num_projections",
            "random_state",
        } & set(updates):
            n_chunks = (
                self.chunks.join(
                    self.documents.filter(F.col("library_id") == library_id),
                    "document_id",
                    "left_semi",
                ).count()
            )
            if n_chunks:
                raise FrozenFieldError(
                    "cannot change index settings of a non-empty library"
                )
        if "library_id" in updates:
            raise FrozenFieldError("library_id is immutable")
        self._known_fields("library", self.libraries.columns, updates)
        cond = F.col("library_id") == library_id
        df = self.libraries
        for k, v in updates.items():
            df = df.withColumn(k, F.when(cond, F.lit(v)).otherwise(F.col(k)))
        return self._replace(libraries=df)

    def delete_library(self, library_id: str) -> "EntityStore":
        """Cascade (J5): anti-join rewrites of all three tables; the chunk
        table's rewrite becomes the new base."""
        doomed_docs = self.documents.filter(F.col("library_id") == library_id)
        return EntityStore(
            libraries=self.libraries.filter(F.col("library_id") != library_id),
            documents=self.documents.join(
                doomed_docs.select("document_id"), "document_id", "left_anti"
            ),
            chunks=self.chunks.join(
                doomed_docs.select("document_id"), "document_id", "left_anti"
            ),
        )

    # -- document CRUD (D4) ------------------------------------------------

    def create_document(self, row: dict) -> "EntityStore":
        self._library(row["library_id"])  # FK guard
        if self.documents.filter(F.col("document_id") == row["document_id"]).count():
            raise DuplicateError(f"document {row['document_id']} exists")
        new = self.documents.sparkSession.createDataFrame([row], self.documents.schema)
        return self._replace(documents=self.documents.unionByName(new))

    def update_document(self, document_id: str, updates: dict) -> "EntityStore":
        self._document(document_id)
        if "library_id" in updates or "document_id" in updates:
            raise FrozenFieldError("document FK/id are immutable")
        self._known_fields("document", self.documents.columns, updates)
        cond = F.col("document_id") == document_id
        df = self.documents
        for k, v in updates.items():
            df = df.withColumn(k, F.when(cond, F.lit(v)).otherwise(F.col(k)))
        return self._replace(documents=df)

    def delete_document(self, document_id: str) -> "EntityStore":
        return self._replace(
            documents=self.documents.filter(F.col("document_id") != document_id),
            chunks=self.base.filter(F.col("document_id") != document_id),
            delta={c: r for c, r in self.delta.items() if r["document_id"] != document_id},
        )

    # -- chunk CRUD (D5-D8) ------------------------------------------------

    def _checked_rows(self, rows: list[dict]) -> list[dict]:
        """``rows`` as full chunk rows, each checked against the base schema
        by the verifier ``createDataFrame`` runs (a wrong type, or None in a
        non-nullable field, raises here), so a bad write raises before the
        delta holds it and no later read of the delta can fail."""
        from pyspark.sql.types import _make_type_verifier

        schema = self.base.schema
        verify = _make_type_verifier(schema)
        full = [{f.name: r.get(f.name) for f in schema} for r in rows]
        for r in full:
            verify(tuple(r.values()))
        return full

    def _validate_dim(self, library: dict, rows: list[dict]) -> None:
        dim = library["embedding_dimension"]
        for r in rows:
            if len(r["embedding"]) != dim:
                raise DimensionMismatchError(
                    f"chunk {r['chunk_id']}: dim {len(r['embedding'])} != {dim}"
                )

    def add_chunks(self, rows: list[dict]) -> "EntityStore":
        """D5/D8: single-row insert is the batch of one. All validation runs
        BEFORE any mutation (validate-then-apply atomicity, O11). The rows
        go into the delta; only the base is looked up."""
        if len(rows) > MAX_BATCH:
            raise BatchTooLargeError(f"batch > {MAX_BATCH}")
        if not rows:
            return self
        doc_ids = {r["document_id"] for r in rows}
        if len(doc_ids) > 1:
            raise EntityError("batch must target a single document")
        doc_id = next(iter(doc_ids))
        ids = [r["chunk_id"] for r in rows]
        # one job answers both lookups: the document's library, and which of
        # the new chunk_ids the base holds
        found = (
            self.documents.filter(F.col("document_id") == doc_id)
            .select(F.lit(True).alias("is_doc"), F.col("library_id").alias("id"))
            .unionByName(
                self.base.filter(F.expr(f"chunk_id IN ({_sql_strings(ids)})"))
                .select(F.lit(False).alias("is_doc"), F.col("chunk_id").alias("id"))
            )
            .collect()
        )
        doc_libs = [r["id"] for r in found if r["is_doc"]]
        if not doc_libs:
            raise NotFoundError(f"document {doc_id} not found")
        lib = self._library(doc_libs[0])
        self._validate_dim(lib, rows)
        existing = {r["id"] for r in found if not r["is_doc"]} - self.tombstones
        existing.update(c for c in ids if c in self.delta)
        if existing:
            raise DuplicateError(f"chunks exist: {sorted(existing)}")
        if len(set(ids)) < len(ids):
            repeated = sorted({c for c in ids if ids.count(c) > 1})
            raise DuplicateError(f"chunk_ids repeated in the batch: {repeated}")
        delta = dict(self.delta)
        for r in self._checked_rows(rows):
            delta[r["chunk_id"]] = r
        return self._replace(delta=delta)

    def update_chunk(self, chunk_id: str, updates: dict) -> "EntityStore":
        """D6: frozen FK; dimension re-validated when the embedding changes
        (the reference's dirty-check re-index, O10, is moot here -- indexes
        are batch-derived columns). The updated row goes into the delta and
        tombstones the base's row; a delta chunk needs no chunk lookup."""
        names = self.base.columns
        if chunk_id in self.delta:
            row = self.delta[chunk_id]
            doc_found, library_id = True, None
        elif chunk_id in self.tombstones:
            raise NotFoundError(f"chunk {chunk_id} not found")
        else:
            hits = self.base.filter(F.col("chunk_id") == chunk_id)
            if "embedding" in updates:
                # one job: the chunk, and its document's library (_doc_found
                # is NULL when the document is missing)
                hits = hits.join(
                    self.documents.select(
                        "document_id",
                        F.lit(True).alias("_doc_found"),
                        F.col("library_id").alias("_library_id"),
                    ),
                    "document_id",
                    "left",
                )
            hits = hits.collect()
            if not hits:
                raise NotFoundError(f"chunk {chunk_id} not found")
            hit = hits[0].asDict()
            row = {n: hit[n] for n in names}
            doc_found = hit.get("_doc_found", True)
            library_id = hit.get("_library_id")
        if "document_id" in updates or "chunk_id" in updates:
            raise FrozenFieldError("chunk FK/id are immutable")
        self._known_fields("chunk", names, updates)
        if "embedding" in updates:
            if doc_found is None:
                raise NotFoundError(f"document {row['document_id']} not found")
            if library_id is None:
                # a delta chunk: its document's library, in one job
                library_id = self._document(row["document_id"])["library_id"]
            lib = self._library(library_id)
            if len(updates["embedding"]) != lib["embedding_dimension"]:
                raise DimensionMismatchError("embedding dimension mismatch")
            updates = {**updates, "embedding": [float(x) for x in updates["embedding"]]}
        (new_row,) = self._checked_rows([{**row, **updates}])
        delta = dict(self.delta)
        delta[chunk_id] = new_row
        # a delta id is either absent from the base or tombstoned already
        tombstones = self.tombstones if chunk_id in self.delta else self.tombstones | {chunk_id}
        return self._replace(delta=delta, tombstones=tombstones)

    def delete_chunk(self, chunk_id: str) -> "EntityStore":
        if chunk_id in self.delta:
            delta = dict(self.delta)
            del delta[chunk_id]
            return self._replace(delta=delta)
        return self._replace(tombstones=self.tombstones | {chunk_id})

    # -- listings (S1-S3) with projection (P1-P3) and pagination (T2) ------

    def list_libraries(self) -> DataFrame:
        return self.libraries.select(
            "library_id", "name", "embedding_dimension", "distance_metric", "index_kind"
        ).orderBy("library_id")

    def list_documents(self, library_id: str | None = None, skip: int = 0, limit: int = 100) -> DataFrame:
        df = self.documents
        if library_id is not None:
            df = df.filter(F.col("library_id") == library_id)
        return (
            df.select("document_id", "library_id", "name")
            .orderBy("document_id")
            .offset(skip)
            .limit(limit)
        )

    def list_chunks(self, document_id: str | None = None, library_id: str | None = None,
                    skip: int = 0, limit: int = 100) -> DataFrame:
        df = self.chunks
        if document_id is not None:
            df = df.filter(F.col("document_id") == document_id)
        if library_id is not None:
            # S6/J2: library scope via semi-join through documents
            df = df.join(
                self.documents.filter(F.col("library_id") == library_id),
                "document_id",
                "left_semi",
            )
        # P3: embedding dropped from list responses
        return (
            df.select("chunk_id", "document_id", "text", "metadata", "chunk_index")
            .orderBy("chunk_id")
            .offset(skip)
            .limit(limit)
        )

    # -- derived counters (A1) ---------------------------------------------

    def library_counts(self) -> DataFrame:
        doc_counts = self.documents.groupBy("library_id").agg(
            F.count(F.lit(1)).alias("document_count")
        )
        chunk_counts = (
            self.chunks.join(self.documents.select("document_id", "library_id"), "document_id")
            .groupBy("library_id")
            .agg(F.count(F.lit(1)).alias("chunk_count"))
        )
        return (
            self.libraries.select("library_id")
            .join(doc_counts, "library_id", "left")
            .join(chunk_counts, "library_id", "left")
            .fillna(0, ["document_count", "chunk_count"])
            .orderBy("library_id")
        )

    # -- search (Q1/Q2, F1-F3, T1) -----------------------------------------

    def search(
        self,
        library_id: str,
        query_vector: list[float],
        k: int = 10,
        metadata_filters: dict[str, str] | None = None,
    ) -> DataFrame:
        if k <= 0:
            raise EntityError("k must be > 0")  # services.py:171-172
        lib = self._library(library_id)
        if len(query_vector) != lib["embedding_dimension"]:
            raise DimensionMismatchError("query dimension mismatch")
        cand = self.chunks.join(
            self.documents.filter(F.col("library_id") == library_id),
            "document_id",
            "left_semi",
        )
        if metadata_filters:
            # F1: conjunctive equality; a missing key yields NULL == v ->
            # NULL -> row dropped, matching dict.get(...) != expected
            pred = reduce(
                lambda a, b: a & b,
                [F.col("metadata")[k_] == F.lit(v) for k_, v in metadata_filters.items()],
            )
            cand = cand.filter(pred)
        if lib["index_kind"] == "random_projection":
            # Q3 dispatch: bucket probe with the reference's <k fallback
            # (intersection with the metadata candidates happens FIRST,
            # fallback widens to all allowed -- indexes.py:220-224).
            from .lsh import _bucket_of, bucket_kernel

            proj = library_projections(lib)
            qb = _bucket_of([float(x) for x in query_vector], proj)
            # the kernel runs above the library semi-join and the metadata
            # filter (mapInArrow stops the bucket filter's pushdown), so it
            # buckets only this library's candidates; the fallback plan
            # skips it
            cand = cand.select("chunk_id", "embedding")
            probed = bucket_kernel(cand, proj).filter(F.col("bucket") == qb)
            if probed.count() >= k:
                cand = probed
        return (
            cand.select(
                "chunk_id",
                distance_expr(lib["distance_metric"], "embedding", query_vector).alias("distance"),
            )
            .orderBy("distance", "chunk_id")
            .limit(k)
        )

    def recommend(
        self,
        library_id: str,
        positive_chunk_ids: list[str],
        negative_chunk_ids: list[str] | None = None,
        k: int = 10,
        metadata_filters: dict[str, str] | None = None,
    ) -> DataFrame:
        """Best-score recommend through the entity surface: the multi-
        example endpoint over the library's chunks, with the same guards,
        library scoping, and metadata pre-filter discipline as
        :meth:`search` (operators/knn.py:knn_recommend for the semantics
        and determinism contract). Example chunks are excluded from
        candidates; missing examples raise NotFoundError."""
        if k <= 0:
            raise EntityError("k must be > 0")
        pos = list(positive_chunk_ids)
        neg = list(negative_chunk_ids or [])
        if not pos:
            raise EntityError("recommend needs at least one positive example")
        lib = self._library(library_id)
        ex_rows = (
            self.chunks.filter(F.col("chunk_id").isin(pos + neg))
            .select("chunk_id", "embedding")
            .collect()
        )
        vecs = {r["chunk_id"]: [float(x) for x in r["embedding"]] for r in ex_rows}
        missing = [c for c in pos + neg if c not in vecs]
        if missing:
            raise NotFoundError(f"example chunks not found: {missing}")
        cand = self.chunks.join(
            self.documents.filter(F.col("library_id") == library_id),
            "document_id",
            "left_semi",
        ).filter(~F.col("chunk_id").isin(pos + neg))
        if metadata_filters:
            pred = reduce(
                lambda a, b: a & b,
                [F.col("metadata")[k_] == F.lit(v) for k_, v in metadata_filters.items()],
            )
            cand = cand.filter(pred)

        def least_of(cols):
            return cols[0] if len(cols) == 1 else F.least(*cols)

        metric = lib["distance_metric"]
        d_pos = least_of([distance_expr(metric, "embedding", vecs[c]) for c in pos])
        inf = F.lit(float("inf"))
        if neg:
            d_neg = least_of([distance_expr(metric, "embedding", vecs[c]) for c in neg])
            score = F.when(d_pos == inf, inf).otherwise(d_pos - d_neg)
        else:
            score = d_pos
        return (
            cand.select(
                "chunk_id", (score + F.lit(0.0)).alias("reco_distance")
            )
            .orderBy("reco_distance", "chunk_id")
            .limit(k)
        )


def library_projections(lib: dict) -> list[list[float]]:
    """The projection matrix of a random_projection library row.

    Per-library seed/width (indexes.py:172-187): NULL columns fall back to
    the engine defaults, so pre-existing stores behave identically. A
    PRESENT invalid width (e.g. 0 from an unvalidated migrated tree) is
    rejected rather than silently reinterpreted -- ``or NUM_PROJECTIONS``
    would treat 0 as "use the default"."""
    from .lsh import NUM_PROJECTIONS, SEED, projection_matrix

    num_proj = (
        NUM_PROJECTIONS
        if lib.get("num_projections") is None
        else lib["num_projections"]
    )
    if not isinstance(num_proj, int) or num_proj <= 0:
        raise ValueError(
            f"library {lib['library_id']}: invalid num_projections {num_proj!r}"
        )
    return projection_matrix(
        dimension=lib["embedding_dimension"],
        num_projections=num_proj,
        seed=SEED if lib.get("random_state") is None else lib["random_state"],
    )


# --------------------------------------------------------------------------
# Fixture store (FIXTURES.md scenarios incl. the reference-test edge rows)
# --------------------------------------------------------------------------

LIB_SCHEMA = (
    "library_id string, name string, description string, "
    "metadata map<string,string>, embedding_dimension int, "
    "distance_metric string, index_kind string, "
    # per-library LSH config (reference indexes.py:172-187: each
    # RandomProjectionIndex carries num_projections + random_state); NULL
    # means the engine defaults (8 projections, fixed seed 42 -- the
    # deterministic analog of the reference's unseeded default_rng(None))
    "num_projections int, random_state int"
)
DOC_SCHEMA = "document_id string, library_id string, name string, metadata map<string,string>"
CHUNK_SCHEMA = (
    "chunk_id string, document_id string, text string, embedding array<float>, "
    "metadata map<string,string>, chunk_index int"
)


def demo_store(spark: SparkSession) -> EntityStore:
    libs = [
        ("lib-cos", "cosine flat", None, {}, 3, "cosine", "flat", None, None),
        ("lib-euc", "euclid flat", None, {}, 3, "euclidean", "flat", None, None),
        ("lib-dot", "dot flat", None, {}, 3, "dot_product", "flat", None, None),
        ("lib-lsh", "cosine lsh", None, {}, 3, "cosine", "random_projection", None, None),
        # seeded per-library config (reference tests/test_indexes.py:64-90)
        ("lib-lsh-seeded", "cosine lsh seeded", None, {}, 3, "cosine",
         "random_projection", 4, 123),
    ]
    docs = [
        ("doc-a", "lib-cos", "alpha", {}),
        ("doc-b", "lib-cos", "beta", {}),
        ("doc-e", "lib-euc", "epsilon", {}),
        ("doc-d", "lib-dot", "delta", {}),
        ("doc-l", "lib-lsh", "lambda", {}),
        ("doc-s", "lib-lsh-seeded", "sigma", {}),
    ]
    chunks = [
        # orthogonal basis + duplicates + zero vector + metadata scenarios
        ("ch-1", "doc-a", "x axis", [1.0, 0.0, 0.0], {"tag": "alpha"}, 0),
        ("ch-2", "doc-a", "y axis", [0.0, 1.0, 0.0], {"tag": "beta"}, 1),
        ("ch-3", "doc-a", "z axis", [0.0, 0.0, 1.0], {"source": "pdf", "page": "5"}, 2),
        ("ch-4", "doc-b", "diag", [1.0, 1.0, 0.0], {"tag": "alpha"}, 0),
        ("ch-5", "doc-b", "dup of ch-4", [1.0, 1.0, 0.0], {}, 1),
        ("ch-6", "doc-b", "zero", [0.0, 0.0, 0.0], {"tag": "alpha"}, 2),
        ("ch-7", "doc-e", "e1", [2.0, 0.0, 0.0], {}, 0),
        ("ch-8", "doc-e", "e2", [0.0, 3.0, 0.0], {}, 1),
        ("ch-9", "doc-d", "d1", [1.0, 2.0, 3.0], {}, 0),
        ("ch-10", "doc-l", "l1", [1.0, 0.0, 1.0], {}, 0),
        ("ch-11", "doc-l", "l2", [-1.0, 0.0, 1.0], {}, 1),
        # the reference's seeded-index fixture (test_indexes.py:64-76)
        ("ch-12", "doc-s", "s1", [1.0, 0.0, 0.0], {}, 0),
        ("ch-13", "doc-s", "s2", [0.0, 1.0, 0.0], {}, 1),
    ]
    return EntityStore(
        libraries=_local_table(spark, libs, LIB_SCHEMA),
        documents=_local_table(spark, docs, DOC_SCHEMA),
        chunks=_local_table(spark, chunks, CHUNK_SCHEMA),
    )


def _local_table(spark: SparkSession, rows: list[tuple], ddl: str) -> DataFrame:
    """Row tuples as an Arrow-built local relation: a row-list
    ``createDataFrame`` gives a LogicalRDD whose pickled rows Python
    workers deserialize again on every action (sources/tables.py)."""
    import pandas as pd
    from pyspark.sql.types import _parse_datatype_string

    from ..sources.tables import arrow_local_df

    names = [f.name for f in _parse_datatype_string(ddl).fields]
    data = {n: pd.Series(col, dtype=object) for n, col in zip(names, zip(*rows))}
    return arrow_local_df(spark, data, ddl)


# --------------------------------------------------------------------------
# Oracle-checked P4/D8 shapes over the driver tables
# --------------------------------------------------------------------------

def patch_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 PATCH-merge as a batch MERGE: docs with doc_id % 100 == 0 get
    lang='xx' and source retagged; everything else passes through."""
    from ..sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    hit = F.col("doc_id") % 100 == 0
    return (
        docs.select(
            "doc_id",
            F.when(hit, F.lit("xx")).otherwise(F.col("lang")).alias("lang"),
            F.when(hit, F.concat(F.lit("patched:"), F.col("source")))
            .otherwise(F.col("source"))
            .alias("source"),
            "n_chars",
        )
        .orderBy("doc_id")
    )


def patch_documents_oracle() -> str:
    return """
SELECT doc_id,
       CASE WHEN doc_id % 100 = 0 THEN 'xx' ELSE lang END AS lang,
       CASE WHEN doc_id % 100 = 0 THEN 'patched:' || source ELSE source END AS source,
       n_chars
FROM documents ORDER BY doc_id
""".strip()


def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) history build: apply a versioned
    update batch to the documents dimension keeping FULL history -- every
    row carries (version, valid_to_version, is_current). The warehouse form
    of the reference's PATCH update (P4 keeps only the latest state; SCD2
    is what an auditable 100 TB dimension actually stores).

    The update batch here is the deterministic delta "docs with
    doc_id % 7 == 0 re-measured 100 chars longer" so the driver tables
    suffice. Plan shape: union + one window partitioned by the dimension
    key -- the key hash-distributes, so history assembly is one shuffle
    regardless of scale, and the 'current snapshot' view is the
    is_current filter (pushed to the scan of a materialized history)."""
    from pyspark.sql import Window

    from ..sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    base = docs.withColumn("version", F.lit(1))
    delta = docs.filter(F.col("doc_id") % 7 == 0).select(
        "doc_id",
        "lang",
        "source",
        (F.col("n_chars") + F.lit(100)).alias("n_chars"),
    ).withColumn("version", F.lit(2))
    hist = base.unionByName(delta)
    w = Window.partitionBy("doc_id").orderBy("version")
    valid_to = F.coalesce(F.lead("version").over(w), F.lit(0))
    return (
        hist.select(
            "doc_id",
            F.col("version").cast("long").alias("version"),
            "n_chars",
            valid_to.cast("long").alias("valid_to_version"),
        )
        .withColumn("is_current", F.col("valid_to_version") == 0)
        .orderBy("doc_id", "version")
    )


def scd2_history_oracle() -> str:
    return """
WITH hist AS (
  SELECT doc_id, n_chars, 1 AS version FROM documents
  UNION ALL
  SELECT doc_id, n_chars + 100, 2 FROM documents WHERE doc_id % 7 = 0),
v AS (
  SELECT doc_id, version::BIGINT AS version, n_chars,
         coalesce(lead(version) OVER (PARTITION BY doc_id ORDER BY version),
                  0)::BIGINT AS valid_to_version
  FROM hist)
SELECT doc_id, version, n_chars, valid_to_version,
       valid_to_version = 0 AS is_current
FROM v ORDER BY doc_id, version
""".strip()


def batch_insert_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 batch append as a union with literal rows, then a derived count
    (naturally atomic per write at scale)."""
    from ..sources.tables import load_table

    from ..sources.tables import arrow_local_df

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    new = arrow_local_df(
        spark,
        {"doc_id": [1_000_001, 1_000_002, 1_000_003], "lang": ["en", "de", "en"]},
        "doc_id long, lang string",
    )
    return (
        docs.unionByName(new)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang")
    )


def batch_insert_documents_oracle() -> str:
    return """
SELECT lang, count(*) AS n_docs FROM (
  SELECT doc_id, lang FROM documents
  UNION ALL
  SELECT * FROM (VALUES (1000001, 'en'), (1000002, 'de'), (1000003, 'en')) t(doc_id, lang))
GROUP BY lang ORDER BY lang
""".strip()

# --------------------------------------------------------------------------
# Persistence (S4/S7): tables as parquet (native) or JSON dirs (the
# reference's on-disk layout is one JSON per entity -- disk_store.py:100-116;
# table-level JSON keeps the format while fixing the file-per-row
# anti-pattern)
# --------------------------------------------------------------------------

def save_store(store: EntityStore, path: str, fmt: str = "parquet") -> None:
    for name in ("libraries", "documents", "chunks"):
        getattr(store, name).write.mode("overwrite").format(fmt).save(f"{path}/{name}")


def load_store(spark: SparkSession, path: str, fmt: str = "parquet") -> EntityStore:
    """Lazy bootstrap (the analog of disk_store._load_all's glob+parse,
    disk_store.py:45-84 -- but recovery-free: tables are the truth)."""
    def read(name: str) -> DataFrame:
        r = spark.read.format(fmt)
        if fmt == "json":
            # JSON needs the declared schema to round-trip types exactly
            r = r.schema({"libraries": LIB_SCHEMA, "documents": DOC_SCHEMA,
                          "chunks": CHUNK_SCHEMA}[name])
        return r.load(f"{path}/{name}")

    return EntityStore(
        libraries=read("libraries"),
        documents=read("documents"),
        chunks=read("chunks"),
    )


@_memo.per_app
def store_from_driver_tables(
    spark: SparkSession,
    sf_dir: str,
    index_kind: str = "flat",
    num_projections: int | None = None,
    random_state: int | None = None,
) -> EntityStore:
    """SURVEY §1.4 mapping applied to the driver's tables: sources become
    libraries, documents stay documents, and each document's embedding row
    (vec_id == doc_id) becomes its single chunk. Proves the entity surface
    runs at data scale, not just on the unit fixtures. ``index_kind``
    applies to every library (flat | random_projection), selecting which
    search dispatch (Q2 exact scan vs Q3 bucket probe) the store runs.

    Memoized with cached tables per configuration: every search through
    this surface scans the documents x embeddings join (a random_projection
    search twice: the <k fallback count, then the probe), which dominated
    the warm cost -- in production the chunk table is the materialized
    asset. The cached chunk table is the store's base: chunk writes on it
    go to the driver-side delta and tombstones and leave the cache as it
    is, so every store derived from this one shares it."""
    from ..sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    libraries = (
        docs.select("source").distinct()
        .select(
            F.col("source").alias("library_id"),
            F.col("source").alias("name"),
            F.lit(None).cast("string").alias("description"),
            F.create_map().cast("map<string,string>").alias("metadata"),
            F.lit(64).alias("embedding_dimension"),
            F.lit("cosine").alias("distance_metric"),
            F.lit(index_kind).alias("index_kind"),
            F.lit(num_projections).cast("int").alias("num_projections"),
            F.lit(random_state).cast("int").alias("random_state"),
        )
    )
    documents = docs.select(
        F.col("doc_id").cast("string").alias("document_id"),
        F.col("source").alias("library_id"),
        F.col("doc_id").cast("string").alias("name"),
        F.create_map(F.lit("lang"), F.col("lang")).alias("metadata"),
    )
    chunks = (
        docs.join(emb, docs["doc_id"] == emb["vec_id"])
        .select(
            F.concat(F.lit("c"), F.col("doc_id")).alias("chunk_id"),
            F.col("doc_id").cast("string").alias("document_id"),
            F.col("text"),
            F.col("embedding"),
            F.create_map(F.lit("lang"), F.col("lang")).alias("metadata"),
            F.lit(0).alias("chunk_index"),
        )
    )
    # all three cached: the library catalog's one collect is a distinct
    # over the full docs scan, and search and the write guards touch
    # documents and chunks in separate jobs -- each was a fresh scan per call
    return EntityStore(
        libraries=libraries.cache(),
        documents=documents.cache(),
        chunks=chunks.cache(),
    )


# --------------------------------------------------------------------------
# Point lookup with column pruning: the reference's GET /chunks/{id}
# projection drops the embedding column "for bandwidth" (vector_db/
# schemas.py:124-129, README.md:220) and timestamps. The engine analog: a
# key-equality read whose select list omits the wide column -- Catalyst
# prunes it from the parquet scan (ReadSchema shows only the projected
# columns), so the bytes never leave storage.
# --------------------------------------------------------------------------

def point_lookup_documents(
    spark: SparkSession, sf_dir: str, doc_ids: tuple[int, ...] = (3, 17, 41)
) -> DataFrame:
    """(doc_id, lang, source, n_chars): key-filtered projection that never
    reads the text column (the documents table's 'embedding analog')."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        docs.filter(F.col("doc_id").isin(*doc_ids))
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )


def point_lookup_documents_oracle(doc_ids: tuple[int, ...] = (3, 17, 41)) -> str:
    ids = ", ".join(str(i) for i in doc_ids)
    return f"""
SELECT doc_id, lang, source, n_chars
FROM documents WHERE doc_id IN ({ids})
ORDER BY doc_id
""".strip()


def bucketed_documents_table(
    spark: SparkSession, sf_dir: str, buckets: int = 8, table: str = "documents_bucketed"
) -> DataFrame:
    """Write-once key-bucketed documents table: the CRUD-at-scale layout.

    The EntityStore DML guards (``_library``/``_document``/duplicate
    checks) filter-then-collect, which on a plain parquet table is a full
    scan per call -- fine at fixture scale, wrong at 100 TB. The
    production layout buckets (and sorts) the entity table by its key at
    write time; an equality guard then touches ONE bucket file
    (``SelectedBucketsCount: 1 out of N`` in the scan node), and batch
    upserts become MERGE into the bucketed table with no pre-shuffle on
    either side. See SCALE.md "CRUD at scale"."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    (
        docs.write.mode("overwrite")
        .bucketBy(buckets, "doc_id")
        .sortBy("doc_id")
        .format("parquet")
        .saveAsTable(table)
    )
    return spark.table(table)


@_memo.per_app
def _gate_bucketed_table(spark: SparkSession, sf_dir: str) -> str:
    """Write the bucketed documents table once per (application, sf_dir);
    returns its name. The sf_dir tag in the name matters: one application
    may gate several sf_dirs, and a shared name would let the second build
    overwrite the first sf_dir's table while its memo still points there
    (stale-read hazard)."""
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    table = f"documents_bucketed_gate_{tag}"
    bucketed_documents_table(spark, sf_dir, buckets=8, table=table)
    return table


def bucketed_point_lookup_query(
    spark: SparkSession, sf_dir: str, doc_ids: tuple[int, ...] = (3, 17, 41)
) -> DataFrame:
    """The CRUD-at-scale guard path under the gate: key-equality lookups
    against the write-once bucketed+sorted layout (bucket pruning pinned
    by tests/test_bucketed_join.py). Table built once per (application,
    sf_dir); the registered query is the read path."""
    return (
        spark.table(_gate_bucketed_table(spark, sf_dir))
        .filter(F.col("doc_id").isin(*doc_ids))
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )


def bucketed_point_lookup_query_oracle(doc_ids: tuple[int, ...] = (3, 17, 41)) -> str:
    return point_lookup_documents_oracle(doc_ids)


def bucketed_point_lookup(spark: SparkSession, doc_id: int, table: str = "documents_bucketed") -> DataFrame:
    """Guard-shaped point lookup against the bucketed layout: Spark's
    bucket pruning reduces the scan to the key's single bucket
    (``SelectedBucketsCount: 1 out of N``). Requires
    ``spark.sql.sources.bucketing.autoBucketedScan.enabled=false`` -- the
    default planner drops the bucketed scan when no join/agg consumes the
    bucketing, and only a bucketed scan gets filter pruning; a lookup
    service pins the conf at session start."""
    return spark.table(table).filter(F.col("doc_id") == doc_id).select(
        "doc_id", "lang", "source", "n_chars"
    )


# --------------------------------------------------------------------------
# Ingest-time embedding validation (F6): dim > 0, vector length == library
# dimension, all-finite -- as an aggregate report instead of a per-row
# raise. At ingest the job runs this first and aborts when violations > 0
# (the batch analog of vector_db/entities.py:138-146 raising per entity).
# --------------------------------------------------------------------------

def embedding_validation_stats(
    spark: SparkSession, sf_dir: str, expected_dim: int = 64
) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    is_null = F.col("embedding").isNull()
    dim_ok = F.size("embedding") == expected_dim
    finite = F.aggregate(
        F.col("embedding"),
        F.lit(True),
        lambda acc, x: acc & ~F.isnan(x) & (F.abs(x) != F.lit(float("inf"))),
    )
    zero_norm = F.aggregate(
        F.col("embedding"), F.lit(0.0), lambda acc, x: acc + x * x
    ) == F.lit(0.0)
    return emb.select(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum(is_null.cast("long")).alias("n_null"),
        F.sum((~is_null & ~dim_ok).cast("long")).alias("n_bad_dim"),
        F.sum((~is_null & dim_ok & ~finite).cast("long")).alias("n_nonfinite"),
        F.sum((~is_null & dim_ok & finite & zero_norm).cast("long")).alias("n_zero_norm"),
    )


def embedding_validation_stats_oracle(expected_dim: int = 64) -> str:
    v = "embedding::DOUBLE[]"
    finite = (
        f"list_bool_and(list_transform({v}, x -> isfinite(x)))"
    )
    return f"""
SELECT count(*) AS n_vectors,
       sum(CASE WHEN embedding IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
       sum(CASE WHEN embedding IS NOT NULL AND len(embedding) != {expected_dim}
                THEN 1 ELSE 0 END)::BIGINT AS n_bad_dim,
       sum(CASE WHEN embedding IS NOT NULL AND len(embedding) = {expected_dim}
                     AND NOT {finite}
                THEN 1 ELSE 0 END)::BIGINT AS n_nonfinite,
       sum(CASE WHEN embedding IS NOT NULL AND len(embedding) = {expected_dim}
                     AND {finite}
                     AND list_inner_product({v}, {v}) = 0
                THEN 1 ELSE 0 END)::BIGINT AS n_zero_norm
FROM embeddings
""".strip()


# --------------------------------------------------------------------------
# The reference's flagship search (Q1: POST /libraries/{id}/search) routed
# through the ENTITY surface -- store built from the driver tables
# (libraries=sources, chunks=documents x embeddings), library-scoped
# semi-join, MapType metadata filter, distance, top-k -- under the oracle
# gate end-to-end. The knn_* family gates the same algebra on raw tables;
# this gates the CRUD-store composition the reference's API actually runs.
# --------------------------------------------------------------------------

def store_search_query(
    spark: SparkSession,
    sf_dir: str,
    library_id: str = "src0",
    query_vec_id: int = 0,
    k: int = 10,
) -> DataFrame:
    from ..sources.tables import load_table

    from .knn import query_vector

    store = store_from_driver_tables(spark, sf_dir)
    return store.search(
        library_id,
        query_vector(spark, sf_dir, query_vec_id),
        k=k,
        metadata_filters={"lang": "en"},
    )


def store_search_query_oracle(
    library_id: str = "src0", query_vec_id: int = 0, k: int = 10
) -> str:
    from ..functions.vector import oracle_distance_sql

    d = oracle_distance_sql("cosine", "c.v", "q.qv")
    return f"""
WITH c AS (
  SELECT 'c' || d.doc_id AS chunk_id, e.embedding::DOUBLE[] AS v
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
  WHERE d.source = '{library_id}' AND d.lang = 'en'),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {query_vec_id})
SELECT c.chunk_id AS chunk_id, {d} AS distance
FROM c, q
ORDER BY distance, chunk_id
LIMIT {k}
""".strip()


def store_search_lsh_query(
    spark: SparkSession,
    sf_dir: str,
    library_id: str = "src0",
    query_vec_id: int = 0,
    k: int = 5,
    num_projections: int | None = None,
    random_state: int | None = None,
) -> DataFrame:
    """Q3 through the entity surface: the store's random_projection
    dispatch (bucket probe, metadata intersection FIRST, <k fallback to
    every allowed chunk -- vector_db/indexes.py:206-234) over the driver
    tables, under the gate. The oracle replicates the identical
    data-dependent plan choice with a conditional UNION. Non-default
    ``num_projections``/``random_state`` flow from the library row into
    the projection matrix (indexes.py:172-187), gated by the seeded
    registry variant."""
    from ..sources.tables import load_table

    store = store_from_driver_tables(
        spark,
        sf_dir,
        index_kind="random_projection",
        num_projections=num_projections,
        random_state=random_state,
    )
    from .knn import query_vector

    return store.search(
        library_id,
        query_vector(spark, sf_dir, query_vec_id),
        k=k,
        metadata_filters={"lang": "en"},
    )


def store_search_lsh_query_oracle(
    library_id: str = "src0",
    query_vec_id: int = 0,
    k: int = 5,
    num_projections: int | None = None,
    random_state: int | None = None,
) -> str:
    from ..functions.vector import oracle_distance_sql
    from .lsh import DIMENSION, NUM_PROJECTIONS, SEED, bucket_sql, projection_matrix

    proj = None
    if num_projections is not None or random_state is not None:
        proj = projection_matrix(
            dimension=DIMENSION,
            num_projections=num_projections or NUM_PROJECTIONS,
            seed=SEED if random_state is None else random_state,
        )
    d = oracle_distance_sql("cosine", "p.v", "q.qv")
    return f"""
WITH c AS (
  SELECT 'c' || d.doc_id AS chunk_id, e.embedding::DOUBLE[] AS v,
         {bucket_sql('e.embedding::DOUBLE[]', proj)} AS bucket
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
  WHERE d.source = '{library_id}' AND d.lang = 'en'),
q AS (SELECT embedding::DOUBLE[] AS qv,
             {bucket_sql('embedding::DOUBLE[]', proj)} AS qbucket
      FROM embeddings WHERE vec_id = {query_vec_id}),
cand AS (SELECT c.* FROM c, q WHERE c.bucket = q.qbucket),
n AS (SELECT count(*) AS cnt FROM cand),
pool AS (
  SELECT * FROM cand WHERE (SELECT cnt FROM n) >= {k}
  UNION ALL
  SELECT * FROM c WHERE (SELECT cnt FROM n) < {k}
)
SELECT p.chunk_id AS chunk_id, {d} AS distance
FROM pool p, q
ORDER BY distance, chunk_id
LIMIT {k}
""".strip()


# --------------------------------------------------------------------------
# Reference disk-layout round trip (S4 completed for real reference data):
# materialize one library as the reference's JSON-per-entity + .npy tree
# (disk_store.py:37-43,100-116; indexes.py:125-141), load it back through
# the migration reader, and search. Results are identical to the
# parquet-path store, so the SAME oracle gates both paths -- mirroring
# tests/test_disk_persistence.py:240-271 ("search works after reload").
# --------------------------------------------------------------------------

def _store_restricted(store: EntityStore, library_id: str) -> EntityStore:
    docs = store.documents.filter(F.col("library_id") == library_id)
    chunks = store.chunks.join(docs.select("document_id"), "document_id", "left_semi")
    libs = store.libraries.filter(F.col("library_id") == library_id)
    return EntityStore(libraries=libs, documents=docs, chunks=chunks)


@_memo.per_app
def _reference_layout_dir(spark: SparkSession, sf_dir: str, library_id: str) -> str:
    """Write one library of the driver-table store in the reference layout,
    once per (application, sf_dir, library_id); returns the directory."""
    from ..sources.artifacts import scratch_dir
    from ..sources.reference_layout import write_reference_layout

    base = store_from_driver_tables(spark, sf_dir)
    return write_reference_layout(
        _store_restricted(base, library_id), scratch_dir("ref-layout-")
    )


def reference_layout_search_query(
    spark: SparkSession,
    sf_dir: str,
    library_id: str = "src0",
    query_vec_id: int = 0,
    k: int = 10,
) -> DataFrame:
    """Write (once per app) -> load -> search over the reference layout;
    gated by store_search_query's oracle since the round trip must be
    content-preserving."""
    from ..sources.reference_layout import load_reference_layout
    from .knn import query_vector

    path = _reference_layout_dir(spark, sf_dir, library_id)
    store = load_reference_layout(spark, path)
    return store.search(
        library_id,
        query_vector(spark, sf_dir, query_vec_id),
        k=k,
        metadata_filters={"lang": "en"},
    )


def store_recommend_query(
    spark: SparkSession,
    sf_dir: str,
    library_id: str = "src0",
    k: int = 10,
) -> DataFrame:
    """The recommend endpoint through the full entity composition:
    library scoping + metadata filter + example exclusion + best-score
    ranking, over the driver-table store."""
    store = store_from_driver_tables(spark, sf_dir)
    return store.recommend(
        library_id,
        positive_chunk_ids=["c3", "c11"],
        negative_chunk_ids=["c7"],
        k=k,
        metadata_filters={"lang": "en"},
    )


def store_recommend_query_oracle(library_id: str = "src0", k: int = 10) -> str:
    from ..functions.vector import oracle_distance_sql

    dp0 = oracle_distance_sql("cosine", "c.v", "p0.v")
    dp1 = oracle_distance_sql("cosine", "c.v", "p1.v")
    dn0 = oracle_distance_sql("cosine", "c.v", "n0.v")
    d_pos = f"least({dp0}, {dp1})"
    score = (
        f"CASE WHEN {d_pos} = 'infinity'::DOUBLE THEN 'infinity'::DOUBLE "
        f"ELSE {d_pos} - {dn0} END"
    )
    return f"""
WITH c AS (
  SELECT 'c' || d.doc_id AS chunk_id, e.embedding::DOUBLE[] AS v
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
  WHERE d.source = '{library_id}' AND d.lang = 'en'
    AND 'c' || d.doc_id NOT IN ('c3', 'c11', 'c7')),
p0 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 3),
p1 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 11),
n0 AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 7)
SELECT c.chunk_id AS chunk_id, ({score}) + 0.0 AS reco_distance
FROM c, p0, p1, n0
ORDER BY reco_distance, chunk_id
LIMIT {k}
""".strip()
