"""Seeded input generators for the benchmark, cached on disk per seed and size.

Two kinds of input directory, both laid out like the engine's ``sf_dir``
(one parquet file per table):

* ``library``: a chunk library for the entity store -- ``documents`` (one
  row per chunk: a random word bag, ``source`` = library id, ``lang`` with a
  fixed selectivity) plus ``embeddings`` (unit-norm 64-d float32 vectors). Next
  to it, ``key.npz`` holds the seeded query vectors and their exact top-k
  answers computed in NumPy.
* ``sf``: every table of an engine sf directory (the TPC-H-ish tables,
  ``events``, ``documents``, ``embeddings``) at a scale factor, with the
  value sets, ranges and duplicate structure the registry queries expect.
  It feeds the registry pipeline slice.

The same (kind, size, seed) always yields byte-identical tables. A
directory is written under a temporary name and renamed once complete, so
an interrupted run never leaves a half-written input behind.
"""

from __future__ import annotations

import os
import shutil
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
K = 10
LIB_N = 20_000  # chunks in the entity store's library
LIBRARIES = 10
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.40, 0.15, 0.15, 0.15, 0.15)  # fixed filter selectivity: lang='en' keeps 40%
FILTER_LANG = "en"
N_QUERIES = 48  # per request kind; a run cycles through them
BATCH_QUERIES = 32  # batch_knn_fast answers vec_id < BATCH_QUERIES


def _publish(tmp: str, out: str) -> str:
    open(os.path.join(tmp, "_DONE"), "w").close()
    try:
        os.rename(tmp, out)
    except OSError:  # another process published the same input first
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def unit_rows(rng: np.random.Generator, n: int) -> np.ndarray:
    v = rng.standard_normal((n, DIM))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def _write(tmp: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(tmp, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# exact distances, bit-compatible with functions.vector.distance_expr
# ---------------------------------------------------------------------------

def _fold_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise dot product as a sequential left fold in float64, the same
    operation order as the engine's ``aggregate(zip_with(...))``."""
    acc = np.zeros(a.shape[0])
    for i in range(a.shape[1]):
        acc = acc + a[:, i] * b[..., i]
    return acc


def round6(x: float) -> float:
    """Spark's ``round(x, 6)`` on a double (HALF_UP on the shortest decimal
    form), then ``+ 0.0`` to fold -0.0."""
    if not np.isfinite(x):
        return float(x)
    return float(Decimal(repr(float(x))).quantize(Decimal("0.000001"), ROUND_HALF_UP)) + 0.0


def as_f64(vecs: np.ndarray) -> np.ndarray:
    """Float64 copy laid out by column, so the per-dimension fold below
    reads contiguous memory."""
    return np.asfortranarray(vecs, dtype=np.float64)


def norms(v64: np.ndarray) -> np.ndarray:
    return np.sqrt(_fold_dot(v64, v64))


def cosine_raw(v64: np.ndarray, q: np.ndarray, vnorm: np.ndarray) -> np.ndarray:
    """Unrounded cosine distance of every row of ``v64`` (see :func:`as_f64`)
    to ``q``; ``vnorm`` is ``norms(v64)``."""
    q = np.asarray(q, dtype=np.float64)
    denom = vnorm * np.sqrt(_fold_dot(q[None, :], q[None, :])[0])
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(denom == 0.0, np.inf, 1.0 - _fold_dot(v64, q) / denom)


def exact_topk(v64, vnorm, ids, q, k: int, str_ids: bool):
    """Exact top-k as [(id, distance)] in the engine's order: rounded
    distance, then id (string order for chunk ids, numeric for vec ids)."""
    raw = cosine_raw(v64, q, vnorm)
    # every row within rounding reach of the k-th smallest can tie after
    # rounding, so round that candidate set exactly and sort it
    kth = np.partition(raw, k - 1)[k - 1]
    cand = np.flatnonzero(raw <= kth + 2e-6)
    rows = [(round6(raw[i]), str(ids[i]) if str_ids else int(ids[i])) for i in cand]
    rows.sort()
    return [(i, d) for d, i in rows[:k]]


# ---------------------------------------------------------------------------
# library: the read-path input
# ---------------------------------------------------------------------------

def library_dir(root: str, seed: int, n: int) -> str:
    out = os.path.join(root, f"library-n{n}-s{seed}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng([seed, n, 1])
    vecs = unit_rows(rng, n)
    ids = np.arange(n, dtype=np.int64)
    lib = rng.integers(0, LIBRARIES, n)
    lang = rng.choice(len(LANGS), n, p=LANG_P)
    words = np.asarray(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), m)]) for m in rng.integers(5, 31, n)]
    _write(tmp, "documents", {
        "doc_id": ids,
        "text": pa.array(texts),
        "lang": pa.array(np.asarray(LANGS)[lang]),
        "source": pa.array(np.char.add("lib", lib.astype(str))),
        "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
    })
    _write(tmp, "embeddings", {
        "vec_id": ids,
        "embedding": pa.FixedSizeListArray.from_arrays(vecs.reshape(-1), DIM).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(lib.astype(np.int32)),
    })

    # request pool: fresh query vectors, each aimed at one library
    queries = unit_rows(rng, N_QUERIES).astype(np.float64)
    q_lib = rng.integers(0, LIBRARIES, N_QUERIES)
    chunk_ids = np.char.add("c", ids.astype(str))
    en = lang == LANGS.index(FILTER_LANG)
    v64 = as_f64(vecs)
    vnorm = norms(v64)
    # per library: the scoped candidates of a flat and a filtered request
    scopes = {}
    for l in range(LIBRARIES):
        for kind, m in (("flat", lib == l), ("filt", (lib == l) & en)):
            scopes[kind, l] = (as_f64(v64[m]), vnorm[m], chunk_ids[m])
    flat, filt = [], []
    for j in range(N_QUERIES):
        for dest, kind in ((flat, "flat"), (filt, "filt")):
            dest.append(exact_topk(*scopes[kind, q_lib[j]], queries[j], K, True))
    batch = [exact_topk(v64, vnorm, ids, vecs[j], K, False) for j in range(BATCH_QUERIES)]
    np.savez(
        os.path.join(tmp, "key.npz"),
        queries=queries,
        q_lib=q_lib,
        chunk_lib=lib,
        flat_ids=np.array([[i for i, _ in r] for r in flat]),
        flat_d=np.array([[d for _, d in r] for r in flat]),
        filt_ids=np.array([[i for i, _ in r] for r in filt]),
        filt_d=np.array([[d for _, d in r] for r in filt]),
        batch_ids=np.array([[i for i, _ in r] for r in batch]),
        batch_d=np.array([[d for _, d in r] for r in batch]),
    )
    return _publish(tmp, out)


def load_library(path: str) -> dict:
    key = dict(np.load(os.path.join(path, "key.npz")))
    vecs = pq.read_table(os.path.join(path, "embeddings.parquet"), columns=["embedding"])
    flat = vecs.column("embedding").combine_chunks().flatten().to_numpy()
    key["vecs"] = flat.reshape(-1, DIM)
    return key


# ---------------------------------------------------------------------------
# sf: every table of an engine sf directory, shaped like the sf0.x testdata
# ---------------------------------------------------------------------------

WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
ADJ = "blue cold hot large old red small warm".split()
NOUN = "anvil bolt gear plate ring screw washer widget".split()
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
DAY_US = 86_400_000_000


def _days(start: str, n_days: int, rng: np.random.Generator, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + rng.integers(0, n_days, n) * np.timedelta64(1, "D"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def sf_dir(root: str, seed: int, sf: float) -> str:
    out = os.path.join(root, f"sf{sf}-s{seed}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng([seed, int(sf * 1000), 2])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_ev, n_doc, n_emb = int(1_500_000 * sf), int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))

    _write(tmp, "region", {"r_regionkey": i32(range(5)), "r_name": pa.array(REGIONS)})
    _write(tmp, "nation", {
        "n_nationkey": i32(range(25)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": i32([i % 5 for i in range(25)]),
    })
    _write(tmp, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pa.array(np.asarray(SEGMENTS)[rng.integers(0, 5, n_cust)]),
    })
    _write(tmp, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    _write(tmp, "part", {
        "p_partkey": pk,
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.asarray(P_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0,
    })
    _write(tmp, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": pa.array(np.asarray(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days("1995-01-01", 2404, rng, n_ord),
        "o_orderpriority": pa.array(np.asarray(PRIORITIES)[rng.integers(0, 5, n_ord)]),
    })
    n_li = 4 * n_ord
    _write(tmp, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": i32(rng.integers(1, 8, n_li)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pa.array(np.asarray(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.asarray(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": _days("1995-01-02", 2498, rng, n_li),
    })
    # events arrive in event_id order over 30 days (the streaming drains
    # replay them in that order under a watermark)
    ts = np.sort(rng.integers(0, 30 * DAY_US, n_ev)) + np.datetime64("2024-01-01", "us")
    _write(tmp, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts),
        "user_id": rng.integers(0, int(15_000 * sf), n_ev),
        "event_type": pa.array(np.asarray(EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    # documents: random word bags; ~5% are an earlier document + " dup"
    # (near duplicates) and a few are verbatim copies (exact duplicates)
    words = np.asarray(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), rng.integers(10, 101))]) for _ in range(n_doc)]
    for i in rng.choice(np.arange(1, n_doc), n_doc // 20, replace=False):
        texts[i] = texts[rng.integers(0, i)] + " dup"
    for i in rng.choice(np.arange(1, n_doc), max(2, n_doc // 600), replace=False):
        texts[i] = texts[rng.integers(0, i)]
    _write(tmp, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": pa.array(texts),
        "lang": pa.array(np.asarray(LANGS)[rng.choice(len(LANGS), n_doc, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
    })
    _write(tmp, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(unit_rows(rng, n_emb).reshape(-1), DIM).cast(
            pa.list_(pa.float32())
        ),
        "label": i32(rng.integers(0, 10, n_emb)),
    })
    return _publish(tmp, out)
