"""Property-based tests (hypothesis): random graphs vs independent
pure-python oracles. Few examples per property — each example spins Spark
jobs — but seeds vary across runs, widening coverage over time."""

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from linkgraph.graph import Graph
from tests.conftest import edges_df

SETTINGS = dict(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def random_edges(draw, max_n=12, max_m=25):
    n = draw(st.integers(2, max_n))
    m = draw(st.integers(1, max_m))
    pairs = draw(
        st.lists(
            st.tuples(st.integers(0, n - 1), st.integers(0, n - 1)),
            min_size=m,
            max_size=m,
        )
    )
    return n, [(a, b, 1.0) for a, b in pairs if a != b]


@st.composite
def graphs(draw):
    return random_edges(draw)


def _uf_components(n, edges):
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, _ in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min member id
    comp = {}
    for v in range(n):
        r = find(v)
        comp.setdefault(r, []).append(v)
    out = {}
    for members in comp.values():
        m = min(members)
        for v in members:
            out[v] = m
    return out


@pytest.mark.parametrize("threshold", [None, 0], ids=["default", "distributed"])
@settings(**SETTINGS)
@given(graphs())
def test_wcc_matches_union_find(spark, monkeypatch, threshold, g):
    from linkgraph.algorithms import blocks
    from linkgraph.algorithms.wcc import wcc

    if threshold is not None:
        monkeypatch.setattr(blocks, "DRIVER_EDGE_THRESHOLD", threshold)
    n, edges = g
    if not edges:
        return
    ids = sorted({a for a, b, _ in edges} | {b for a, b, _ in edges})
    gr = Graph.from_edges(edges_df(spark, edges))
    got = {r["id"]: r["component"] for r in wcc(gr).collect()}
    want = _uf_components(n, edges)
    assert got == {v: want[v] for v in ids}


# The three sides of WCC and LPA and the graph layout that selects each:
# driver (default crossover), pull (ids 0..n-1, crossover forced to 0) and
# DataFrame (crossover forced to 0, with ids that are not 0..n-1 or with an
# edge endpoint that is not a node id).
SIDES = ["driver", "pull", "sparse_ids", "phantom"]


def _side_graph(spark, monkeypatch, side, n, edges):
    """(graph, node ids, edge list) of ``edges`` over nodes 0..n-1 laid out
    for ``side``; the edge list includes the phantom endpoint's edges."""
    from linkgraph.algorithms import blocks

    if side != "driver":
        monkeypatch.setattr(blocks, "DRIVER_EDGE_THRESHOLD", 0)
    ids = list(range(n))
    if side == "sparse_ids":
        ids = [3 * v + 1 for v in ids]
        edges = [(3 * a + 1, 3 * b + 1, w) for a, b, w in edges]
    elif side == "phantom":
        # n + 5 is no node: an endpoint connecting 0 and n - 1
        edges = edges + [(0, n + 5, 1.0), (n + 5, n - 1, 1.0)]
    nodes = spark.createDataFrame([(v,) for v in ids], "id long")
    return Graph.from_edges(edges_df(spark, edges), nodes=nodes), ids, edges


def _count_sides(monkeypatch):
    """Counters of pull supersteps and driver union-find calls."""
    import importlib

    from linkgraph.algorithms import blocks

    W = importlib.import_module("linkgraph.algorithms.wcc")
    seen = {"pull": 0, "union_find": 0}

    def counting(owner, name, key):
        orig = getattr(owner, name)

        def wrapper(*a, **kw):
            seen[key] += 1
            return orig(*a, **kw)

        monkeypatch.setattr(owner, name, wrapper)

    counting(blocks, "pull_superstep", "pull")
    counting(W, "union_find_mapping", "union_find")
    return seen


def _assert_side(side, seen, driver_calls):
    if side == "driver":
        assert seen == {"pull": 0, "union_find": driver_calls}
    elif side == "pull":
        assert seen["pull"] > 0 and seen["union_find"] == 0
    else:
        assert seen == {"pull": 0, "union_find": 0}


@pytest.mark.parametrize("side", SIDES)
@settings(**SETTINGS)
@given(graphs())
def test_wcc_sides_match_union_find(spark, monkeypatch, side, g):
    from linkgraph.algorithms.wcc import wcc

    n, edges = g
    if not edges:
        return
    with monkeypatch.context() as m:
        gr, ids, all_edges = _side_graph(spark, m, side, n, edges)
        seen = _count_sides(m)
        out = wcc(gr)
        got = {r["id"]: r["component"] for r in out.collect()}
    ends = sorted({v for a, b, _ in all_edges for v in (a, b)} | set(ids))
    index = {v: i for i, v in enumerate(ends)}
    want = _uf_components(len(ends), [(index[a], index[b], w) for a, b, w in all_edges])
    assert got == {v: ends[want[index[v]]] for v in ids}
    assert out.did_converge
    _assert_side(side, seen, driver_calls=1)


@pytest.mark.parametrize("side", SIDES)
@settings(**SETTINGS)
@given(graphs(), st.booleans())
def test_lpa_sides_match_driver_kernel(spark, monkeypatch, side, g, weighted):
    """Labels AND iteration count of every side equal the driver kernel's
    (``_lpa_local``) over the same prepared edges."""
    from linkgraph.algorithms.lpa import _lpa_local, label_propagation
    from linkgraph.algorithms.wcc import loop_free_undirected

    n, edges = g
    if not edges:
        return
    rng = np.random.default_rng(n * 100 + len(edges))
    edges = [(a, b, float(rng.integers(1, 4))) for a, b, _ in edges]
    with monkeypatch.context() as m:
        gr, _, _ = _side_graph(spark, m, side, n, edges)
        seen = _count_sides(m)
        out = label_propagation(gr, max_iterations=6, weighted=weighted)
        got = {r["id"]: r["label"] for r in out.collect()}
    want = _lpa_local(
        loop_free_undirected(gr.edges), gr.nodes.select("id", F.col("id").alias("label")),
        weighted, 6, True,
    )
    assert got == {r["id"]: r["label"] for r in want.collect()}
    assert (out.iterations, out.did_converge) == (want.iterations, want.did_converge)
    _assert_side(side, seen, driver_calls=0)


@settings(**SETTINGS)
@given(graphs())
def test_triangle_count_matches_bruteforce(spark, g):
    from linkgraph.algorithms.triangles import triangle_count

    n, edges = g
    if not edges:
        return
    adj = np.zeros((n, n), dtype=bool)
    for a, b, _ in edges:
        adj[a, b] = adj[b, a] = True
    want = {}
    for v in range(n):
        cnt = 0
        nb = np.flatnonzero(adj[v])
        for i in range(len(nb)):
            for j in range(i + 1, len(nb)):
                if adj[nb[i], nb[j]]:
                    cnt += 1
        if adj[v].any():
            want[v] = cnt
    gr = Graph.from_edges(edges_df(spark, edges))
    got = {r["id"]: r["triangles"] for r in triangle_count(gr).collect()}
    assert got == want


@st.composite
def canonical_edge_lists(draw):
    """Possibly empty random graphs as canonical (src < dst) pairs in random
    order, on spread-out ids."""
    n = draw(st.integers(0, 14))
    pairs = draw(st.lists(st.tuples(st.integers(0, n), st.integers(0, n)),
                          max_size=60 if n else 0))
    canon = {(min(a, b) * 3 + 1, max(a, b) * 3 + 1) for a, b in pairs if a != b}
    return draw(st.permutations(sorted(canon)))


@settings(max_examples=60, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(canonical_edge_lists(), st.sampled_from([1, 2, 5, 1 << 22]))
def test_triangle_kernel_matches_bruteforce(monkeypatch, canon, chunk):
    """The numpy kernel finds every triangle of a canonical edge list once,
    with the indices of its three edges — on empty graphs, and with the
    per-chunk wedge cap patched small so the multi-chunk path runs."""
    import itertools

    import linkgraph.algorithms.triangles as T

    monkeypatch.setattr(T, "WEDGE_CHUNK", chunk)
    src = np.array([a for a, _ in canon], dtype=np.int64)
    dst = np.array([b for _, b in canon], dtype=np.int64)
    nodes, edges = T.triangle_kernel(src, dst)
    es = set(canon)
    ids = sorted({v for e in canon for v in e})
    want = {t for t in itertools.combinations(ids, 3)
            if all(p in es for p in itertools.combinations(t, 2))}
    got = [tuple(sorted(r)) for r in nodes.tolist()]
    assert sorted(got) == sorted(want)  # each triangle exactly once
    for tri, ix in zip(got, edges.tolist()):
        assert sorted(canon[i] for i in ix) == list(itertools.combinations(tri, 2))


@settings(**SETTINGS)
@given(graphs())
def test_lpa_partition_invariance(spark, g):
    """Synchronous LPA with deterministic tie-break must not depend on the
    physical partitioning of the edge DataFrame."""
    from linkgraph.algorithms.lpa import label_propagation

    n, edges = g
    if not edges:
        return
    e = edges_df(spark, edges)
    g1 = Graph.from_edges(e.repartition(1))
    g2 = Graph.from_edges(e.repartition(7))
    r1 = {r["id"]: r["label"]
          for r in label_propagation(g1, max_iterations=4).collect()}
    r2 = {r["id"]: r["label"]
          for r in label_propagation(g2, max_iterations=4).collect()}
    assert r1 == r2


@settings(**SETTINGS)
@given(graphs())
def test_scc_matches_tarjan_property(spark, g):
    """ColorSCC (distributed) equals driver Tarjan on random digraphs."""
    from linkgraph.algorithms.scc import scc, scc_tarjan

    n, edges = g
    if not edges:
        return
    gr = Graph.from_edges(edges_df(spark, edges))
    a = {r["id"]: r["component"] for r in scc(gr).collect()}
    b = {r["id"]: r["component"] for r in scc_tarjan(gr).collect()}
    assert a == b


@settings(**SETTINGS)
@given(st.lists(st.tuples(st.integers(0, 8), st.integers(0, 6)),
                min_size=1, max_size=40))
def test_jaccard_inverted_index_matches_bruteforce(spark, pairs):
    """Inverted-index jaccard equals brute-force set jaccard on random
    (item, category) incidence data."""
    from linkgraph.algorithms.similarity import jaccard

    df = spark.createDataFrame(
        sorted(set(pairs)), "item long, category long"
    )
    got = {(r["a"], r["b"]): r["similarity"]
           for r in jaccard(df, "item", "category").collect()}
    sets = {}
    for i, c in set(pairs):
        sets.setdefault(i, set()).add(c)
    for a in sets:
        for b in sets:
            if a >= b:
                continue
            inter = len(sets[a] & sets[b])
            if inter == 0:
                assert (a, b) not in got
                continue
            want = round(inter / len(sets[a] | sets[b]), 5)  # proc rounds to 5dp
            assert got[(a, b)] == pytest.approx(want, abs=1e-9)


@settings(**SETTINGS)
@given(graphs())
def test_msbfs_distance_sums_match_numpy_bfs(spark, g):
    """Chunked bitset MSBFS (reachable, Σd) equals per-source numpy BFS."""
    from linkgraph.algorithms.msbfs import msbfs_distance_sums

    n, edges = g
    if not edges:
        return
    gr = Graph.from_edges(edges_df(spark, edges))
    got = {r["id"]: (r["reachable"], r["dist_sum"])
           for r in msbfs_distance_sums(gr, direction="BOTH").collect()}
    # numpy BFS over the undirected graph restricted to edge-endpoint nodes
    ids = sorted({a for a, b, _ in edges} | {b for a, b, _ in edges})
    idx = {v: i for i, v in enumerate(ids)}
    m = len(ids)
    adj = [[] for _ in range(m)]
    for a, b, _ in edges:
        adj[idx[a]].append(idx[b])
        adj[idx[b]].append(idx[a])
    import collections
    for v in ids:
        dist = [-1] * m
        dist[idx[v]] = 0
        dq = collections.deque([idx[v]])
        while dq:
            u = dq.popleft()
            for w_ in adj[u]:
                if dist[w_] < 0:
                    dist[w_] = dist[u] + 1
                    dq.append(w_)
        reach = sum(1 for d in dist if d > 0)
        dsum = float(sum(d for d in dist if d > 0))
        assert got[v] == (reach, dsum), (v, got[v], (reach, dsum))


@settings(**SETTINGS)
@given(graphs())
def test_delta_stepping_matches_dijkstra_property(spark, g):
    """Distributed delta-stepping equals driver Dijkstra on random weighted
    digraphs (weights 1 + (src+dst) % 3)."""
    from linkgraph.algorithms.paths import delta_stepping, shortest_paths

    n, edges = g
    if not edges:
        return
    weighted = [(a, b, 1.0 + (a + b) % 3) for a, b, _ in edges]
    gr = Graph.from_edges(edges_df(spark, weighted))
    src = min(a for a, b, _ in weighted)
    dij = {r["node_id"]: r["distance"]
           for r in shortest_paths(gr, src).collect()}
    ds = {r["node_id"]: r["distance"]
          for r in delta_stepping(gr, src, delta=2.0).collect()}
    assert ds == dij


@settings(**SETTINGS)
@given(graphs())
def test_msbfs_outgoing_direction_matches_numpy(spark, g):
    """Directed (OUTGOING) MSBFS distance sums vs numpy BFS on digraphs.

    Note the semantics: dist_sum at node v accumulates over SOURCES that
    reach v (column orientation of the bitset frontier)."""
    from linkgraph.algorithms.msbfs import msbfs_distance_sums

    n, edges = g
    if not edges:
        return
    gr = Graph.from_edges(edges_df(spark, edges))
    got = {r["id"]: (r["reachable"], r["dist_sum"])
           for r in msbfs_distance_sums(gr, direction="OUTGOING").collect()}
    ids = sorted({a for a, b, _ in edges} | {b for a, b, _ in edges})
    idx = {v: i for i, v in enumerate(ids)}
    m = len(ids)
    adj = [[] for _ in range(m)]
    for a, b, _ in edges:
        adj[idx[a]].append(idx[b])
    import collections
    # forward BFS from every source; accumulate at the TARGET node
    reach = [0] * m
    dsum = [0.0] * m
    for s in range(m):
        dist = [-1] * m
        dist[s] = 0
        dq = collections.deque([s])
        while dq:
            u = dq.popleft()
            for w_ in adj[u]:
                if dist[w_] < 0:
                    dist[w_] = dist[u] + 1
                    dq.append(w_)
        for t in range(m):
            if dist[t] > 0:
                reach[t] += 1
                dsum[t] += dist[t]
    for v in ids:
        assert got[v] == (reach[idx[v]], dsum[idx[v]]), v


@settings(**SETTINGS)
@given(graphs(), st.integers(0, 2**31 - 1), st.booleans())
def test_random_walks_valid_and_deterministic(spark, g, seed, node2vec):
    """Every hop follows a real (undirected) edge, every walk starts at its
    start node, and the result is identical across runs for any seed and
    mode — the counter-based RNG must not depend on partitioning."""
    from linkgraph.algorithms.randomwalk import random_walks

    n, edges = g
    if not edges:
        return
    graph = Graph.from_edges(
        edges_df(spark, edges),
        nodes=spark.createDataFrame([(i,) for i in range(n)], "id long"),
    )
    kwargs = dict(steps=4, walks_per_node=2, seed=seed)
    if node2vec:
        kwargs.update(mode="node2vec", return_param=2.0, in_out_param=0.5)
    r1 = sorted(
        (r["start"], r["walk_idx"], tuple(r["path"]))
        for r in random_walks(graph, **kwargs).collect()
    )
    r2 = sorted(
        (r["start"], r["walk_idx"], tuple(r["path"]))
        for r in random_walks(graph, **kwargs).collect()
    )
    assert r1 == r2
    und = {(a, b) for a, b, _ in edges} | {(b, a) for a, b, _ in edges}
    assert len(r1) == n * 2
    for start, _wi, path in r1:
        assert path[0] == start
        for a, b in zip(path, path[1:]):
            assert (a, b) in und
        # a walk may stop early ONLY at a node with no (undirected) nbrs
        if len(path) < 5:
            assert not any(path[-1] == a for a, _ in und)
