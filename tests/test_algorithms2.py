import pytest

from pyspark.sql import functions as F

import linkgraph.algorithms.blocks as B
from linkgraph import Graph
from linkgraph.algorithms.betweenness import betweenness_centrality
from linkgraph.algorithms.louvain import louvain
from linkgraph.algorithms.msbfs import (
    all_shortest_paths_stream,
    closeness_centrality,
    harmonic_centrality,
)
from linkgraph.algorithms.paths import (
    bfs,
    delta_stepping,
    dfs,
    minimum_spanning_forest,
    shortest_path,
    shortest_paths,
    yens_k_shortest_paths,
)
from linkgraph.algorithms.randomwalk import random_walks
from linkgraph.algorithms.scc import scc, scc_tarjan

from conftest import edges_df, nodes_df

# path graph 0-1-2-3-4 (undirected)
PATH5 = [(0, 1, 1.0), (1, 2, 1.0), (2, 3, 1.0), (3, 4, 1.0)]
# weighted digraph for dijkstra/delta-stepping
WG = [
    (0, 1, 4.0), (0, 2, 1.0), (2, 1, 2.0), (1, 3, 1.0), (2, 3, 5.0),
    (3, 4, 3.0), (0, 4, 10.0),
]


def _g(spark, edges, ids=None, **kw):
    nodes = nodes_df(spark, ids) if ids is not None else None
    return Graph.from_edges(edges_df(spark, edges), nodes=nodes, **kw)


def test_closeness_path_graph(spark):
    g = _g(spark, PATH5, ids=range(5))
    got = {r["id"]: r["centrality"] for r in closeness_centrality(g).collect()}
    golden = {0: 4 / 10, 1: 4 / 7, 2: 4 / 6, 3: 4 / 7, 4: 4 / 10}
    for i, v in golden.items():
        assert got[i] == pytest.approx(v)


def test_harmonic_path_graph(spark):
    g = _g(spark, PATH5, ids=range(5))
    got = {r["id"]: r["centrality"] for r in harmonic_centrality(g).collect()}
    assert got[0] == pytest.approx((1 + 0.5 + 1 / 3 + 0.25) / 4)
    assert got[2] == pytest.approx((1 + 1 + 0.5 + 0.5) / 4)


def test_all_shortest_paths_matches_bfs(spark):
    g = _g(spark, PATH5, ids=range(5))
    rows = {(r["source"], r["target"]): r["distance"]
            for r in all_shortest_paths_stream(g).collect()}
    assert rows[(0, 4)] == 4
    assert rows[(1, 3)] == 2
    assert len(rows) == 20  # all ordered pairs


def test_dijkstra_and_delta_stepping_agree(spark):
    g = _g(spark, WG, ids=range(5))
    dij = {r["node_id"]: r["distance"] for r in shortest_paths(g, 0).collect()}
    assert dij == {0: 0.0, 1: 3.0, 2: 1.0, 3: 4.0, 4: 7.0}
    ds = {r["node_id"]: r["distance"]
          for r in delta_stepping(g, 0, delta=2.0).collect()}
    assert ds == dij


def test_shortest_path_pair(spark):
    g = _g(spark, WG, ids=range(5))
    rows = shortest_path(g, 0, 4).collect()
    assert [r["node_id"] for r in rows] == [0, 2, 1, 3, 4]
    assert rows[-1]["cost"] == pytest.approx(7.0)


def test_yens_k_shortest(spark):
    g = _g(spark, WG, ids=range(5))
    rows = yens_k_shortest_paths(g, 0, 4, k=3).collect()
    assert rows[0]["cost"] == pytest.approx(7.0)
    assert rows[0]["path"] == [0, 2, 1, 3, 4]
    costs = [r["cost"] for r in rows]
    assert costs == sorted(costs)
    assert len({tuple(r["path"]) for r in rows}) == len(rows)


def test_bfs_dfs(spark):
    g = _g(spark, PATH5, ids=range(5), direction="BOTH")
    b = {r["node_id"]: r["depth"] for r in bfs(g, 0).collect()}
    assert b == {0: 0, 1: 1, 2: 2, 3: 3, 4: 4}
    d = [r["node_id"] for r in dfs(g, 0).orderBy("order").collect()]
    assert d == [0, 1, 2, 3, 4]


def test_minimum_spanning_forest(spark):
    # classic: MST of WG viewed undirected
    g = _g(spark, WG, ids=range(5))
    forest = minimum_spanning_forest(g)
    total = forest.agg(F.sum("weight")).first()[0]
    # MST edges: (0,2,1) (1,2,2) (1,3,1) (3,4,3) → 7
    assert total == pytest.approx(7.0)
    assert forest.count() == 4


def test_scc_matches_tarjan(spark):
    edges = [
        (0, 1, 1.0), (1, 2, 1.0), (2, 0, 1.0),  # cycle {0,1,2}
        (2, 3, 1.0), (3, 4, 1.0), (4, 3, 1.0),  # cycle {3,4}
        (4, 5, 1.0),                            # tail {5}
    ]
    g = _g(spark, edges, ids=range(6))
    a = {r["id"]: r["component"] for r in scc(g).collect()}
    b = {r["id"]: r["component"] for r in scc_tarjan(g).collect()}
    assert a == b
    assert a[0] == a[1] == a[2] == 0
    assert a[3] == a[4] == 3
    assert a[5] == 5


def test_betweenness_path_graph(spark):
    g = _g(spark, PATH5, ids=range(5))
    got = {r["id"]: r["centrality"]
           for r in betweenness_centrality(g, direction="BOTH").collect()}
    assert got[0] == pytest.approx(0.0)
    assert got[1] == pytest.approx(3.0)
    assert got[2] == pytest.approx(4.0)
    assert got[3] == pytest.approx(3.0)


@pytest.mark.parametrize("algo", ["betweenness", "random_walks", "weighted_asp"])
def test_push_store_results_survive_store_eviction(spark, monkeypatch, algo):
    """The result no longer reads the cached push store: evicting that
    store before the caller's action leaves the result intact."""
    import os

    from linkgraph.algorithms.msbfs import weighted_all_shortest_paths

    run = {
        "betweenness": betweenness_centrality,
        "random_walks": random_walks,
        "weighted_asp": weighted_all_shortest_paths,
    }[algo]
    monkeypatch.setattr(B, "_STORE_DIR_CACHE_MAX", 1)
    out = run(_g(spark, PATH5, ids=range(5)))
    used = list(B._STORE_DIR_CACHE.values())
    B.open_store(edges_df(spark, [(0, 2, 1.0)]), "pull")  # evicts `used`
    assert not any(os.path.isdir(p) for p in used)
    assert len(out.collect()) >= 5  # count() could prune the store read


def test_betweenness_sampled_runs(spark):
    g = _g(spark, PATH5, ids=range(5))
    got = betweenness_centrality(g, direction="BOTH", probability=0.6, seed=7)
    assert got.count() == 5


def test_louvain_two_clusters(spark):
    edges = [
        (0, 1, 1.0), (1, 2, 1.0), (0, 2, 1.0),
        (3, 4, 1.0), (4, 5, 1.0), (3, 5, 1.0),
        (2, 3, 0.1),
    ]
    g = _g(spark, edges, ids=range(6))
    res = louvain(g, max_levels=2, move_rounds=8)
    got = {r["id"]: r["community"] for r in res.collect()}
    assert got[0] == got[1] == got[2]
    assert got[3] == got[4] == got[5]
    assert got[0] != got[3]
    assert res.final_modularity > 0.3

    # includeIntermediateCommunities: levels list present, last level's
    # assignment equals the final communities
    res_i = louvain(g, max_levels=2, move_rounds=8, include_intermediate=True)
    assert len(res_i.levels) >= 1
    final = {r["id"]: r["community"] for r in res_i.collect()}
    last = {r["id"]: r["community"] for r in res_i.levels[-1].collect()}
    assert final == last


def test_random_walks_deterministic(spark):
    g = _g(spark, PATH5, ids=range(5), direction="BOTH")
    w1 = sorted(map(tuple, random_walks(g, steps=5, seed=7).collect()))
    w2 = sorted(map(tuple, random_walks(g, steps=5, seed=7).collect()))
    assert w1 == w2
    assert len(w1) == 5
    und = {(s, d) for s, d, _ in PATH5} | {(d, s) for s, d, _ in PATH5}
    for _, _, path in w1:
        for a, b in zip(path, path[1:]):
            assert (a, b) in und


def test_node2vec_walks_run(spark):
    g = _g(spark, PATH5, ids=range(5), direction="BOTH")
    rows = random_walks(g, steps=4, mode="node2vec", return_param=2.0,
                        in_out_param=0.5, seed=3).collect()
    assert len(rows) == 5
    und = {(s, d) for s, d, _ in PATH5} | {(d, s) for s, d, _ in PATH5}
    for r in rows:
        for a, b in zip(r["path"], r["path"][1:]):
            assert (a, b) in und


def test_node2vec_return_bias(spark):
    """Tiny return_param (1/p huge) must make walks backtrack almost
    always: on a path graph nearly every step after the first returns to
    prev. Statistical check over many walks."""
    g = _g(spark, PATH5, ids=range(5), direction="BOTH")
    rows = random_walks(g, steps=8, walks_per_node=20, mode="node2vec",
                        return_param=0.001, in_out_param=1.0, seed=5).collect()
    backtracks = total = 0
    for r in rows:
        p = r["path"]
        for i in range(2, len(p)):
            total += 1
            backtracks += p[i] == p[i - 2]
    assert total > 100
    assert backtracks / total > 0.95


def test_node2vec_inout_bias(spark):
    """Tiny in_out_param (1/q huge) on a hub-and-spoke plus triangle: from
    the triangle, walks should prefer jumping OUTWARD (to nodes not
    adjacent to prev) over staying in the triangle."""
    # triangle 0-1-2, plus distant spokes 3,4 hanging off node 1
    tri = [(0, 1, 1.0), (1, 2, 1.0), (2, 0, 1.0), (1, 3, 1.0), (1, 4, 1.0)]
    g = _g(spark, tri, ids=range(5), direction="BOTH")
    rows = random_walks(g, steps=6, walks_per_node=30, mode="node2vec",
                        return_param=1000.0, in_out_param=0.001, seed=9,
                        start_nodes=[0]).collect()
    # walking 0→1, the out-nodes {3,4} (not adjacent to 0) should dominate
    # over the in-node {2} (adjacent to 0) and the return {0}
    out_moves = in_moves = 0
    for r in rows:
        p = r["path"]
        for i in range(2, len(p)):
            if p[i - 1] == 1 and p[i - 2] == 0:
                if p[i] in (3, 4):
                    out_moves += 1
                elif p[i] == 2:
                    in_moves += 1
    assert out_moves > in_moves


def test_catalog(spark):
    from linkgraph.catalog import GraphCatalog

    cat = GraphCatalog()
    g = _g(spark, PATH5, ids=range(5))
    cat.load("p5", g)
    assert "p5" in cat
    info = cat.info("p5")
    assert info["nodes"] == 5 and info["relationships"] == 4
    assert [e["name"] for e in cat.list()] == ["p5"]
    assert cat.remove("p5") and "p5" not in cat


def test_similarity_scalar_functions(spark):
    from linkgraph.functions.similarities import (
        cosine_lists,
        euclidean_distance_lists,
        jaccard_lists,
        one_hot_encoding,
        overlap_lists,
        pearson_lists,
    )

    df = spark.createDataFrame(
        [([1, 2, 3], [2, 3, 4]), ([1, 2], [3, 4])],
        "a array<int>, b array<int>",
    )
    r = df.select(
        jaccard_lists("a", "b").alias("j"),
        overlap_lists("a", "b").alias("o"),
        cosine_lists("a", "b").alias("c"),
        euclidean_distance_lists("a", "b").alias("e"),
        pearson_lists("a", "b").alias("p"),
    ).collect()
    assert r[0]["j"] == pytest.approx(2 / 4)
    assert r[0]["o"] == pytest.approx(2 / 3)
    assert r[0]["c"] == pytest.approx(
        (2 + 6 + 12) / ((14 ** 0.5) * (29 ** 0.5))
    )
    assert r[1]["j"] == pytest.approx(0.0)
    assert r[0]["e"] == pytest.approx(3 ** 0.5)
    assert r[0]["p"] == pytest.approx(1.0)
    oh = spark.createDataFrame(
        [(["a", "b", "c"], ["c"])], "avail array<string>, sel array<string>"
    ).select(one_hot_encoding("avail", "sel").alias("x")).first()["x"]
    assert oh == [0, 0, 1]


def test_vector_similarity_procs(spark):
    from linkgraph.algorithms.vector_similarity import cosine, euclidean, pearson

    items = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 1.0]), (3, [2.0, 0.0])],
        "item long, weights array<double>",
    )
    cos = {(r["a"], r["b"]): r["similarity"]
           for r in cosine(items, top_k=1).collect()}
    assert cos[(0, 3)] == pytest.approx(1.0)  # same direction
    eu = {(r["a"], r["b"]): r["similarity"]
          for r in euclidean(items, top_k=1).collect()}
    assert eu[(0, 2)] == pytest.approx(1.0)  # dist 1.0 tie (2,3) -> min b
    p = pearson(items, top_k=3)
    assert p.count() == 12 or p.count() == 4 * 3


def test_louvain_driver_vs_distributed_parity(spark, monkeypatch):
    """Both kernels implement the same synchronous parity-move rule, so the
    final PARTITION must be identical (labels are canonical min-node-id)."""
    edges = [
        (0, 1, 1.0), (1, 2, 1.0), (0, 2, 1.0),
        (3, 4, 1.0), (4, 5, 1.0), (3, 5, 1.0),
        (6, 7, 1.0), (7, 8, 1.0), (6, 8, 1.0),
        (2, 3, 0.1), (5, 6, 0.1),
    ]
    g = _g(spark, edges, ids=range(9))
    small = louvain(g, max_levels=3, move_rounds=8)  # numpy path
    monkeypatch.setattr(B, "DRIVER_EDGE_THRESHOLD", 0)
    big = louvain(g, max_levels=3, move_rounds=8)

    def partition(df):
        rows = {r["id"]: r["community"] for r in df.collect()}
        groups = {}
        for i, c in rows.items():
            groups.setdefault(c, set()).add(i)
        return sorted(frozenset(s) for s in groups.values())

    assert partition(small) == partition(big)


def test_louvain_contract_query_fast():
    """Regression for round 1: doc_louvain wall-clocked >12min at sf0.01 and
    killed the driver correctness gate. Budget: <60s."""
    import time

    from linkgraph.queries import q_doc_louvain
    from linkgraph.session import get_spark

    spark = get_spark(app_name="lv-fast", master="local[4]", shuffle_partitions=4)
    t0 = time.time()
    out = q_doc_louvain(spark, "/root/testdata/sf0.01")
    n = out.count()
    assert n == 500
    assert time.time() - t0 < 60


def test_betweenness_doc_graph_vs_numpy_oracle(spark):
    """Exact Brandes on the real sf0.001 doc graph vs an independent pure-
    python Brandes oracle — value-level check, not rows-only."""
    import pytest as _pytest

    from linkgraph.queries import doc_graph
    from tests.oracles import np_betweenness

    g = doc_graph(spark, "/root/testdata/sf0.001")
    got = {r["id"]: r["centrality"]
           for r in betweenness_centrality(g, direction="BOTH").collect()}
    pairs = [(r["src"], r["dst"]) for r in g.canonical_edges().collect()]
    ids = [r["id"] for r in g.nodes.collect()]
    want = np_betweenness(pairs, ids)
    assert len(got) == len(want)
    for i in ids:
        assert got[i] == _pytest.approx(want[i], rel=1e-9, abs=1e-9)


def test_mst_doc_graph_vs_kruskal(spark):
    """Borůvka forest total weight == independent Kruskal on the real
    sf0.001 weighted doc graph (min and max variants)."""
    import pytest as _pytest

    from linkgraph.algorithms.paths import minimum_spanning_forest
    from linkgraph.queries import _weighted_doc_graph
    from tests.oracles import np_kruskal_weight

    g = _weighted_doc_graph(spark, "/root/testdata/sf0.001")
    triples = [(r["src"], r["dst"], r["weight"]) for r in g.canonical_edges().collect()]
    for maximum in (False, True):
        got = minimum_spanning_forest(g, maximum=maximum).collect()
        want_w, want_n = np_kruskal_weight(triples, maximum=maximum)
        assert len(got) == want_n
        assert sum(r["weight"] for r in got) == _pytest.approx(want_w)


def test_balanced_triads_golden(spark):
    """Signed K4: triads with positive sign-product are balanced.

    Edges: 0-1:+, 0-2:+, 0-3:-, 1-2:-, 1-3:+, 2-3:+
    Triads: (0,1,2): + + - → unbalanced; (0,1,3): + - + → unbalanced;
            (0,2,3): + - + → unbalanced; (1,2,3): - + + → unbalanced.
    Flip 1-2 to +: (0,1,2) becomes + + + balanced.
    """
    from linkgraph.algorithms.triangles import balanced_triads
    from linkgraph.graph import Graph
    from tests.conftest import edges_df

    e = edges_df(
        spark,
        [(0, 1, 1.0), (0, 2, 1.0), (0, 3, -1.0), (1, 2, 1.0), (1, 3, 1.0), (2, 3, 1.0)],
    )
    g = Graph.from_edges(e)
    got = {r["id"]: (r["balanced"], r["unbalanced"]) for r in balanced_triads(g).collect()}
    # triads: (0,1,2)=+++ bal; (0,1,3)=+-+ unbal; (0,2,3)=+-+ unbal; (1,2,3)=+++ bal
    assert got[0] == (1, 2)
    assert got[1] == (2, 1)
    assert got[2] == (2, 1)
    assert got[3] == (1, 2)


def test_sampled_closeness_estimator(spark):
    """source_sample=1.0 equals exact; 0.5 sample on K8 stays within the
    estimator's error envelope of the true centrality (all exactly 1.0)."""
    from linkgraph.algorithms.msbfs import closeness_centrality

    k8 = [(i, j, 1.0) for i in range(8) for j in range(i + 1, 8)]
    g = _g(spark, k8, ids=range(8), direction="BOTH")
    exact = {r["id"]: r["centrality"] for r in closeness_centrality(g).collect()}
    assert all(abs(v - 1.0) < 1e-9 for v in exact.values())
    est = {r["id"]: r["centrality"]
           for r in closeness_centrality(g, source_sample=0.5, seed=3).collect()}
    assert len(est) == 8
    assert all(0.4 < v < 2.5 for v in est.values())


def test_procs_call_dispatch(spark):
    """CALL-style string dispatch resolves registry paths and runs."""
    from linkgraph.procs import call

    g = _g(spark, PATH5, ids=range(5))
    deg = {r["id"]: r["score"]
           for r in call("algo.degree", g, direction="OUTGOING").collect()}
    assert deg[0] == 1.0 and deg[4] == 0.0
    comps = {r["id"]: r["component"] for r in call("algo.unionFind", g).collect()}
    assert set(comps.values()) == {0}
    # spanningTree.maximum auto-sets maximum=True
    forest = call("algo.spanningTree.maximum", g)
    assert forest.count() == 4
    # catalog procs route through the default instance
    call("algo.graph.load", "pcall", g)
    import linkgraph.catalog as C
    assert "pcall" in C.default_catalog()
    C.default_catalog().remove("pcall")
    import pytest as _pt
    with _pt.raises(KeyError):
        call("algo.nope")


def test_procs_call_ignores_reference_concurrency_keys(spark):
    from linkgraph.procs import call

    g = _g(spark, PATH5, ids=range(5))
    out = call("algo.unionFind", g, concurrency=4, batchSize=100,
               readConcurrency=2, graph="heavy")
    assert out.count() == 5


def test_catalog_save_and_load_from(spark, tmp_path):
    from linkgraph.catalog import GraphCatalog

    cat = GraphCatalog()
    g = _g(spark, PATH5, ids=range(5))
    cat.load("p5", g)
    path = str(tmp_path / "p5_store")
    cat.save("p5", path)
    cat.remove("p5")

    cat2 = GraphCatalog()
    g2 = cat2.load_from(spark, "p5", path)
    assert g2.num_nodes() == 5 and g2.num_edges() == 4
    assert cat2.info("p5")["relationships"] == 4
