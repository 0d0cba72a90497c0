"""``entity`` workload: the entity store's read path and write path.

The input is a generated library directory laid out like an sf directory
(``documents`` + ``embeddings``): datagen.LIB_N 64-d chunks in
datagen.LIBRARIES libraries, ``lang = 'en'`` on 40% of them. Set-up builds
its flat and its random_projection store with
``entity.store_from_driver_tables``. The warm-up pass runs every operation
once; the timed phase gives READ_SHARE of ``--seconds`` to the read path
and the rest to the write path.

Read path, the reference's ``POST /libraries/{id}/search``. A round is one
request of each kind, in a seeded order, with a fresh query vector:

* ``search_flat``: exact flat search over the cached chunk table, through
  the ``functions.vector`` distance kernel.
* ``search_filtered``: flat search with ``metadata_filters={"lang": "en"}``.
* ``search_lsh``: random_projection search; its eager ``<k`` fallback count
  job adds a pass of its own.
* ``batch_knn``: ``knn.batch_knn_fast``, an Arrow GEMM answering
  datagen.BATCH_QUERIES query vectors in one call.

Write path. A sequence is STEPS ``write`` operations on the flat store, each
``add_chunks`` with BATCH_ROWS new chunks for one document, then
``update_chunk`` (a new embedding) and ``delete_chunk`` on two chunks of the
base; after the last step a flat search for a vector it just added
(``search_after_write``). Every mutation returns a new immutable store whose
lineage re-executes every earlier ``createDataFrame`` batch, so cost grows
along a sequence; each sequence starts again from the base store, and
STEPS is short enough to stay where that growth repeats from run to run.
Whole sequences run until the write share of the time has passed.

Checks: exact searches must equal the NumPy answer key (6-dp rounding,
``(distance, chunk_id)`` order); an LSH answer must have k distinct rows of
the library, in engine order, each at its exact distance recomputed in
NumPy; ``batch_knn`` must equal its key; read-after-write answers must
equal a NumPy model of the mutated chunk table; at the end, the last
sequence's store must hold base + added - deleted chunks and its updated
embeddings must read back.
"""

from __future__ import annotations

import random
import statistics
import time

import numpy as np

import datagen

KINDS = ("search_flat", "search_filtered", "search_lsh", "batch_knn")
STEPS = 3
BATCH_ROWS = 100
# a read round takes about as long as a write sequence, so this share gives
# two read rounds per write sequence at --seconds 10
READ_SHARE = 0.6


class Workload:
    def __init__(self, data_root: str, seed: int, rec):
        self.rec = rec
        self.seed = seed
        self.lib_dir = datagen.library_dir(data_root, seed, datagen.LIB_N)
        self.key = datagen.load_library(self.lib_dir)
        # chunk_id -> (library, float32 vector): the flat store's chunk table
        self.base_model = {f"c{i}": (f"lib{l}", v) for i, (l, v) in
                           enumerate(zip(self.key["chunk_lib"], self.key["vecs"]))}
        self.order = random.Random(seed)
        self.next_q = 0
        self.sequences = 0
        self.stores: dict = {}
        self.add_s: list[list[float]] = []  # per timed sequence: add_chunks seconds per step
        self.last = None
        self.detail: dict = {}

    # -- phases ----------------------------------------------------------

    def build(self, spark) -> None:
        from vector_db_from_scratch_spark.operators import entity

        self.stores = {
            "flat": entity.store_from_driver_tables(spark, self.lib_dir),
            "lsh": entity.store_from_driver_tables(spark, self.lib_dir, "random_projection"),
        }
        for st in self.stores.values():
            for df in (st.libraries, st.documents, st.chunks):
                df.count()

    def builds_s(self, build_s: list[float]) -> float:
        return statistics.median(build_s)

    def cold(self, spark) -> None:
        """Every operation once: one read round and a one-step write sequence."""
        self._read_round(spark)
        self._sequence(spark, 1)

    def timed(self, spark, seconds: float) -> tuple[int, float]:
        """Read rounds for READ_SHARE of ``seconds``, then whole write
        sequences for the rest, each at least once; returns the vectors
        added and the wall time of the sequences."""
        pc = time.perf_counter
        rounds, t0 = 0, pc()
        while rounds == 0 or pc() - t0 < READ_SHARE * seconds:
            self.rec.tracer.request()
            self._read_round(spark)
            rounds += 1
        added, sequences, t0 = 0, 0, pc()
        while sequences == 0 or pc() - t0 < (1 - READ_SHARE) * seconds:
            self.rec.tracer.request()
            added += self._sequence(spark, STEPS)
            sequences += 1
        return added, pc() - t0

    def finish(self, spark) -> None:
        rec = self.rec
        if self.last is None:  # no sequence completed; its failures are counted
            return
        store, model, upd, want_n = self.last
        n = rec.op("end_count", lambda: store.chunks.count())
        if n is not None:
            rec.verify("end_count", [] if n == want_n else [f"{n} chunks, want {want_n}"])
        back = rec.op("end_read_back", lambda: store.chunks.filter(store.chunks["chunk_id"].isin(upd)),
                      lambda df: {r["chunk_id"]: list(r["embedding"]) for r in df.collect()})
        if back is not None:
            want = {c: [float(x) for x in model[c][1]] for c in upd}
            rec.verify("end_read_back", [] if back == want else ["updated embeddings do not read back"])
        # add_chunks latency grows along a sequence: last step over first
        timed = self.add_s[1:] or self.add_s  # the first sequence is the warm-up
        first = statistics.median(s[0] for s in timed)
        last = statistics.median(s[-1] for s in timed)
        self.detail["add_chunks_growth"] = {"first_ms": first * 1e3, "last_ms": last * 1e3,
                                            "ratio": last / first}

    def scan_table(self, spark):
        return self.stores["flat"].chunks, self.key["queries"][0]

    # -- read path -------------------------------------------------------

    def _read_round(self, spark) -> None:
        kinds = list(KINDS)
        self.order.shuffle(kinds)
        j = self.next_q % datagen.N_QUERIES
        self.next_q += 1
        for kind in kinds:
            self._request(spark, kind, j)

    def _request(self, spark, kind: str, j: int) -> None:
        from vector_db_from_scratch_spark.operators import knn

        rec, key, k = self.rec, self.key, datagen.K
        collect = lambda df: df.collect()
        if kind == "batch_knn":
            nq = datagen.BATCH_QUERIES
            rows = rec.op(kind, lambda: knn.batch_knn_fast(spark, self.lib_dir, "cosine", k=k,
                                                           num_queries=nq), collect)
            if rows is not None:
                got = sorted((r["query_id"], r["rank"], r["vec_id"], r["distance"]) for r in rows)
                want = [(qi, rank + 1, int(key["batch_ids"][qi][rank]), float(key["batch_d"][qi][rank]))
                        for qi in range(nq) for rank in range(k)]
                rec.verify(kind, [] if got == want else ["top-k differs from the answer key"])
            return
        q = key["queries"][j].tolist()
        lib = f"lib{key['q_lib'][j]}"
        if kind == "search_lsh":
            rows = rec.op(kind, lambda: self.stores["lsh"].search(lib, q, k=k), collect)
            if rows is not None:
                rec.verify(kind, self._lsh_problems(rows, q, lib))
            return
        filters = {"lang": datagen.FILTER_LANG} if kind == "search_filtered" else None
        rows = rec.op(kind, lambda: self.stores["flat"].search(lib, q, k=k, metadata_filters=filters),
                      collect)
        if rows is not None:
            pre = "filt" if filters else "flat"
            want = list(zip(key[f"{pre}_ids"][j].tolist(), key[f"{pre}_d"][j].tolist()))
            got = [(r["chunk_id"], r["distance"]) for r in rows]
            rec.verify(kind, [] if got == want else ["top-k differs from the answer key"])

    def _lsh_problems(self, rows, q, lib: str) -> list[str]:
        k, key = datagen.K, self.key
        out = []
        if len(rows) != k:
            out.append(f"{len(rows)} rows, want {k}")
        ids = [r["chunk_id"] for r in rows]
        if len(set(ids)) != len(ids):
            out.append("duplicate ids")
        got = [(r["distance"], r["chunk_id"]) for r in rows]
        if got != sorted(got):
            out.append("rows out of (distance, chunk_id) order")
        idx = [int(c[1:]) for c in ids]
        if any(i >= len(key["chunk_lib"]) or f"lib{key['chunk_lib'][i]}" != lib for i in idx):
            return out + ["id outside the library"]
        v64 = datagen.as_f64(key["vecs"][idx])
        exact = [datagen.round6(x) for x in datagen.cosine_raw(v64, q, datagen.norms(v64))]
        if exact != [r["distance"] for r in rows]:
            out.append("distance differs from the exact one")
        return out

    # -- write path ------------------------------------------------------

    def _sequence(self, spark, steps: int) -> int:
        """A write sequence of ``steps`` from the flat store; returns the
        vectors added."""
        rec, tr = self.rec, self.rec.tracer
        n = self.sequences
        self.sequences += 1
        rng = np.random.default_rng([self.seed, 3, n])
        model = dict(self.base_model)
        base_ids = sorted(model)
        picks = rng.permutation(len(base_ids))[: 2 * steps]
        upd, dels = [base_ids[i] for i in picks[:steps]], [base_ids[i] for i in picks[steps:]]
        docs = rng.choice(len(base_ids), steps, replace=False)
        store, added, deleted, add_s = self.stores["flat"], 0, 0, []

        def write(rows: list[dict], u: str, vec: list[float], d: str):
            t0 = time.perf_counter()
            with tr.span("entity.add_chunks"):
                st = store.add_chunks(rows)
            add_s.append(time.perf_counter() - t0)
            with tr.span("entity.update_chunk"):
                st = st.update_chunk(u, {"embedding": vec})
            with tr.span("entity.delete_chunk"):
                return st.delete_chunk(d)

        for step in range(steps):
            doc = int(docs[step])
            lib = self.base_model[f"c{doc}"][0]
            new = datagen.unit_rows(rng, BATCH_ROWS + 1)
            rows = [{"chunk_id": f"n{n}_{step}_{i}", "document_id": str(doc), "text": f"new {step} {i}",
                     "embedding": [float(x) for x in new[i]], "metadata": {"lang": "en"},
                     "chunk_index": i} for i in range(BATCH_ROWS)]
            vec = [float(x) for x in new[BATCH_ROWS]]
            st = rec.op("write", lambda: write(rows, upd[step], vec, dels[step]))
            if st is None:
                return added
            store = st
            added += BATCH_ROWS
            deleted += 1
            model.update({f"n{n}_{step}_{i}": (lib, new[i]) for i in range(BATCH_ROWS)})
            model[upd[step]] = (model[upd[step]][0], new[BATCH_ROWS])
            del model[dels[step]]
        self._search_after_write(store, model, lib, rows[0]["embedding"])
        self.add_s.append(add_s)
        self.last = (store, model, upd, len(self.base_model) + added - deleted)
        return added

    def _search_after_write(self, store, model: dict, lib: str, q: list[float]) -> None:
        rec = self.rec
        got = rec.op("search_after_write", lambda: store.search(lib, q, k=datagen.K),
                     lambda df: df.collect())
        if got is None:
            return
        ids = [c for c, (l, _) in model.items() if l == lib]
        v64 = datagen.as_f64(np.stack([model[c][1] for c in ids]))
        want = datagen.exact_topk(v64, datagen.norms(v64), np.asarray(ids), q, datagen.K, True)
        ok = [(r["chunk_id"], r["distance"]) for r in got] == want
        rec.verify("search_after_write", [] if ok else ["top-k differs from the model"])

