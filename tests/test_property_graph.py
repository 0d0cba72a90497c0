"""Property fuzz for the graph-curation operators: the k-core peel and
common-neighbour link prediction run the REAL Spark code paths (via the
und_df/nodes_df override hooks) on hypothesis-generated random graphs and
must match independent Python references exactly -- graph-independent
semantics verified beyond the single corpus graph the oracle gate uses."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from vector_db_from_scratch_spark.operators import graph


@st.composite
def undirected_graphs(draw):
    n = draw(st.integers(min_value=2, max_value=10))
    nodes = list(range(n))
    possible = [(a, b) for i, a in enumerate(nodes) for b in nodes[i + 1:]]
    edges = draw(
        st.lists(st.sampled_from(possible), unique=True, max_size=len(possible))
    )
    return nodes, sorted(edges)


def _dfs(spark, nodes, edges):
    from vector_db_from_scratch_spark.sources.tables import arrow_local_df

    nodes_df = arrow_local_df(spark, {"vec_id": [int(v) for v in nodes]}, "vec_id long")
    und_df = arrow_local_df(
        spark,
        {"a": [int(a) for a, _ in edges], "b": [int(b) for _, b in edges]},
        "a long, b long",
    )
    return nodes_df, und_df


def test_property_kcore_matches_python_on_random_graphs(spark):
    @settings(max_examples=10, deadline=None)
    @given(undirected_graphs(), st.integers(min_value=1, max_value=4))
    def run(g, k):
        nodes, edges = g
        nodes_df, und_df = _dfs(spark, nodes, edges)
        got = [
            (r["iter"], r["core_nodes"], r["core_edges"])
            for r in graph.kcore_trajectory(
                spark, "unused", k=k, iters=3, nodes_df=nodes_df, und_df=und_df
            ).collect()
        ]
        ns, es = set(nodes), set(edges)
        expect = [(0, len(ns), len(es))]
        for r in range(1, 4):
            deg: dict[int, int] = {}
            for a, b in es:
                deg[a] = deg.get(a, 0) + 1
                deg[b] = deg.get(b, 0) + 1
            ns = {v for v in ns if deg.get(v, 0) >= k}
            es = {(a, b) for a, b in es if a in ns and b in ns}
            expect.append((r, len(ns), len(es)))
        assert got == expect

    run()


def test_property_link_prediction_matches_python_on_random_graphs(spark):
    @settings(max_examples=10, deadline=None)
    @given(undirected_graphs())
    def run(g):
        nodes, edges = g
        if not edges:
            return
        _, und_df = _dfs(spark, nodes, edges)
        rows = graph.link_prediction(spark, "unused", und_df=und_df).collect()
        got = [
            (r["x"], r["z"], r["common_neighbors"], r["jaccard_micros"])
            for r in rows
        ]
        adj: dict[int, set[int]] = {}
        und = set(edges)
        for a, b in und:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        scored = []
        ns = sorted(adj)
        for i, x in enumerate(ns):
            for z in ns[i + 1:]:
                if (x, z) in und:
                    continue
                common = len(adj[x] & adj[z])
                if common == 0:
                    continue
                union = len(adj[x]) + len(adj[z]) - common
                jac = (2 * common * graph.MICRO + union) // (2 * union)
                scored.append((-common, -jac, x, z))
        scored.sort()
        expect = [(x, z, -c, -j) for c, j, x, z in scored[: graph.LPRED_TOPN]]
        assert got == expect

    run()


def test_kcore_override_states_registered_for_release(spark, monkeypatch):
    """ADVICE r9: the override path's localCheckpointed per-iteration
    states must be held by the memo layer so _memo.clear() can unpersist
    them (repeated fuzz calls otherwise accumulate checkpointed RDDs until
    process exit). The layer's containers are swapped for empty ones so
    the clear() below releases only this call's states, not the session's
    other artifacts."""
    from vector_db_from_scratch_spark.operators import _memo

    monkeypatch.setattr(_memo, "_STORE", {})
    monkeypatch.setattr(_memo, "_HELD", [])
    nodes_df, und_df = _dfs(spark, [0, 1, 2], [(0, 1), (1, 2)])
    graph.kcore_trajectory(
        spark, "unused", k=1, iters=2, nodes_df=nodes_df, und_df=und_df
    ).collect()
    assert len(_memo._HELD) == 1
    app_id, states = _memo._HELD[0]
    assert app_id == spark.sparkContext.applicationId
    assert len(states) == 3  # initial + 2 iterations, each (nodes, edges)

    frames = [df for state in states for df in state]
    cls = type(frames[0])
    released = []
    original = cls.unpersist

    def recording_unpersist(self, *args, **kwargs):
        released.append(self)
        return original(self, *args, **kwargs)

    monkeypatch.setattr(cls, "unpersist", recording_unpersist)
    assert _memo.clear(app_id) == 1
    assert _memo._HELD == []
    assert len(released) == 6 and all(
        any(r is f for r in released) for f in frames
    )
