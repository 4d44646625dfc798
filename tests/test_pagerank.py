import numpy as np
import pytest

from linkgraph import Graph
from linkgraph.algorithms.pagerank import PageRank, article_rank, eigenvector_centrality

from conftest import edges_df
from oracles import np_pagerank

# FIXTURES.md G_PR: directed, 10 nodes, node 1 is the hub
G_PR = [
    (1, 2), (2, 1), (3, 0), (3, 1), (4, 1), (4, 3), (5, 1), (5, 4),
    (6, 1), (6, 4), (7, 1), (7, 4), (8, 1), (8, 4), (9, 4),
]
N = 10


def _edges(weighted=False):
    return [(s, d, 1.0 + ((s + d) % 3) if weighted else 1.0) for s, d in G_PR]


def _graph(spark, weighted=False, reparts=None):
    e = edges_df(spark, _edges(weighted))
    if reparts:
        e = e.repartition(reparts)
    return Graph.from_edges(
        e, nodes=spark.createDataFrame([(i,) for i in range(N)], "id long")
    )


def _run(spark, strategy, weighted=False, **kw):
    pr = PageRank(strategy=strategy, weighted=weighted, **kw)
    got = {r["id"]: r["rank"] for r in pr.run(_graph(spark, weighted)).collect()}
    return got, pr


@pytest.mark.parametrize("strategy", ["csr", "pull"])
def test_pagerank_fixed_iterations(spark, strategy):
    # exact-iteration equality vs the numpy oracle — stronger than convergence
    golden = np_pagerank([(s, d, 1.0) for s, d in G_PR], N, iters=30)
    got, pr = _run(spark, strategy, max_iterations=30)
    assert pr.metrics.iterations == 30
    for i in range(N):
        assert got[i] == pytest.approx(golden[i], abs=1e-9)


def test_pagerank_auto_strategy(spark):
    """auto resolves to pull on contiguous ids, csr otherwise; values match
    the numpy oracle either way."""
    golden = np_pagerank([(s, d, 1.0) for s, d in G_PR], N, iters=30)
    got, pr = _run(spark, "auto", max_iterations=30)
    assert pr.resolved_strategy == "pull"  # contiguous 0..N-1 ids
    assert pr.strategy == "auto"  # config not mutated — instance is reusable
    for i in range(N):
        assert got[i] == pytest.approx(golden[i], abs=1e-9)
    # shift ids → non-contiguous → csr
    from linkgraph.graph import Graph
    from tests.conftest import edges_df

    shifted = Graph.from_edges(
        edges_df(spark, [(s + 1000, d + 1000, 1.0) for s, d in G_PR])
    )
    pr2 = PageRank(strategy="auto", max_iterations=30)
    got2 = {r["id"]: r["rank"] for r in pr2.run(shifted).collect()}
    assert pr2.resolved_strategy == "csr"
    for i in range(N):
        assert got2[i + 1000] == pytest.approx(golden[i], abs=1e-9)
    # a reused auto instance re-resolves per graph
    got3 = {r["id"]: r["rank"] for r in pr2.run(_graph(spark, False)).collect()}
    assert pr2.resolved_strategy == "pull"
    for i in range(N):
        assert got3[i] == pytest.approx(golden[i], abs=1e-9)


def test_pagerank_convergence_1e6(spark):
    # north-star correctness: allclose 1e-6 at convergence, on both plans,
    # which stop on the same max |Δ| superstep
    golden = np_pagerank([(s, d, 1.0) for s, d in G_PR], N, tol=1e-12)
    iterations = set()
    for strategy in ("csr", "pull"):
        got, pr = _run(spark, strategy, tolerance=2e-8, max_iterations=200)
        assert pr.metrics.did_converge
        assert len(pr.metrics.deltas) == pr.metrics.iterations
        iterations.add(pr.metrics.iterations)
        for i in range(N):
            assert got[i] == pytest.approx(golden[i], abs=1e-6)
    assert len(iterations) == 1


@pytest.mark.parametrize("strategy", ["csr", "pull"])
def test_pagerank_weighted(spark, strategy):
    golden = np_pagerank(_edges(True), N, weighted=True, iters=30)
    got, _ = _run(spark, strategy, weighted=True, max_iterations=30)
    for i in range(N):
        assert got[i] == pytest.approx(golden[i], abs=1e-9)


@pytest.mark.parametrize("strategy", ["csr", "pull"])
def test_pagerank_personalized(spark, strategy):
    t = np.zeros(N)
    t[3] = 1.0
    golden = np_pagerank([(s, d, 1.0) for s, d in G_PR], N, teleport=t, iters=30)
    got, _ = _run(spark, strategy, source_nodes=[3], max_iterations=30)
    for i in range(N):
        assert got[i] == pytest.approx(golden[i], abs=1e-9)


@pytest.mark.parametrize("reparts,blocks", [(1, 1), (8, 3)])
def test_pagerank_partition_invariance(spark, reparts, blocks):
    golden = np_pagerank([(s, d, 1.0) for s, d in G_PR], N, iters=20)
    g = _graph(spark, reparts=reparts)
    got = {r["id"]: r["rank"] for r in
           PageRank(strategy="csr", max_iterations=20, num_blocks=blocks).run(g).collect()}
    for i in range(N):
        assert got[i] == pytest.approx(golden[i], abs=1e-9)


def test_pagerank_checkpoint_resume(spark, tmp_path):
    from linkgraph.io import CheckpointManager

    g = _graph(spark)
    for strategy in ("csr", "pull"):
        full = {r["id"]: r["rank"] for r in
                PageRank(strategy=strategy, max_iterations=10).run(g).collect()}
        ck = CheckpointManager(spark, str(tmp_path / strategy))
        PageRank(strategy=strategy, max_iterations=4, checkpoint=ck,
                 checkpoint_every=1).run(g).collect()
        pr2 = PageRank(strategy=strategy, max_iterations=10, checkpoint=ck,
                       checkpoint_every=1)
        resumed = {r["id"]: r["rank"] for r in pr2.run(g).collect()}
        assert pr2.metrics.resumed_from == 4
        for i in range(N):
            assert resumed[i] == pytest.approx(full[i], abs=1e-12)


def test_failed_superstep_releases_store_pin(spark, monkeypatch):
    """A superstep that raises must not leave its store pinned: a leaked
    pin keeps that store from ever being evicted from the store cache.
    Nor may the csr run leave a cached table behind."""
    from linkgraph.algorithms import blocks

    cache = spark._jsparkSession.sharedState().cacheManager()

    def failing_engine(*a):
        def step(x):
            raise RuntimeError("superstep failed")
        return step

    def failing_gather(*a):
        raise RuntimeError("superstep failed")

    g = _graph(spark)
    before = dict(blocks._STORE_DIR_PINS)
    for strategy, name, fake in (("pull", "pull_engine", failing_engine),
                                 ("csr", "gather_pack", failing_gather)):
        spark.catalog.clearCache()
        with monkeypatch.context() as m:
            m.setattr(blocks, name, fake)
            with pytest.raises(RuntimeError, match="superstep failed"):
                PageRank(strategy=strategy, max_iterations=3).run(g)
        assert blocks._STORE_DIR_PINS == before
        assert cache.isEmpty()


@pytest.mark.parametrize("strategy", ["CSR", "join"])
def test_pagerank_rejects_unknown_strategy(strategy):
    with pytest.raises(ValueError, match="auto, pull, csr"):
        PageRank(strategy=strategy)


def test_infomap_pagerank_follows_auto_resolution(spark, monkeypatch):
    """InfoMap runs its PageRank on the plan `auto` would pick: with the
    memory-aware pull cap below the node count that is csr."""
    from linkgraph.algorithms import blocks
    from linkgraph.algorithms.infomap import infomap

    resolved = []
    run = PageRank.run

    def spy(self, graph):
        out = run(self, graph)
        resolved.append((self.resolved_strategy, self.tolerance))
        return out

    monkeypatch.setattr(blocks, "_pull_node_cap", lambda s: 2)
    monkeypatch.setattr(PageRank, "run", spy)
    infomap(_graph(spark), pr_iterations=5).collect()
    assert resolved == [("csr", None)]


def test_infomap_resolves_once_and_falls_back_on_outside_endpoint(spark, monkeypatch):
    """InfoMap's PageRank resolves its strategy with one node aggregate
    and, as ``auto``, falls back to csr when an edge reaches an id that is
    no node id (the explicit pull it used to pass raised ValueError)."""
    from linkgraph.algorithms import blocks
    from linkgraph.algorithms.infomap import infomap

    e = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 1.0), (2, 0, 1.0), (2, 10, 1.0), (3, 0, 1.0)],
        "src long, dst long, weight double",
    )
    g = Graph.from_edges(e, nodes=spark.createDataFrame([(i,) for i in range(4)], "id long"))
    calls = []
    node_range = blocks._node_range
    monkeypatch.setattr(
        blocks, "_node_range", lambda *a, **kw: calls.append(1) or node_range(*a, **kw)
    )
    out = dict(tuple(r) for r in infomap(g, pr_iterations=5).collect())
    assert len(calls) == 1
    assert sorted(out) == [0, 1, 2, 3] and out[0] == out[1] == out[2]


def test_article_rank_matches_oracle(spark):
    g = _graph(spark)
    got = {r["id"]: r["rank"] for r in article_rank(g, max_iterations=20).collect()}
    outdeg = np.zeros(N)
    for s, d in G_PR:
        outdeg[s] += 1
    # reference semantics: averageDegree = relationshipCount / nodeCount
    avg = outdeg.sum() / N
    p = np.ones(N)
    for _ in range(20):
        c = np.zeros(N)
        for s, d in G_PR:
            c[d] += p[s] / (outdeg[s] + avg)
        p = 0.15 + 0.85 * c
    for i in range(N):
        assert got[i] == pytest.approx(p[i], abs=1e-9)
    assert got[1] == max(got.values())  # hub ranks highest


def test_eigenvector_smoke(spark):
    g = _graph(spark)
    got = {r["id"]: r["rank"] for r in
           eigenvector_centrality(g, max_iterations=15, normalization="max").collect()}
    assert max(got.values()) == pytest.approx(1.0)
    assert got[9] == pytest.approx(0.0, abs=1e-9)  # no in-links


def _phantom_graph(spark):
    """Nodes 0..3 and an edge endpoint, 10, that is no node id."""
    e = edges_df(spark, [(0, 1, 1.0), (1, 10, 1.0), (10, 2, 1.0)])
    return Graph.from_edges(e, nodes=spark.createDataFrame([(i,) for i in range(4)], "id long"))


def test_pull_rejects_edge_endpoint_outside_node_ids(spark):
    with pytest.raises(ValueError, match=r"0\.\.3; the edges reach ids 0\.\.10"):
        PageRank(strategy="pull", max_iterations=3).run(_phantom_graph(spark))


@pytest.mark.parametrize(
    "algo", ["article_rank", "eigenvector", "katz", "hits", "ppr", "spectral"]
)
def test_pull_family_on_edge_endpoint_outside_node_ids(spark, algo):
    """Every pull-store reader checks the store's endpoint range: past it
    the power-iteration family runs its join loop, spectral refuses."""
    from linkgraph.algorithms.hits import hits
    from linkgraph.algorithms.pagerank import katz_centrality
    from linkgraph.algorithms.ppr import ppr_batch
    from linkgraph.algorithms.spectral import spectral_embedding

    g = _phantom_graph(spark)
    if algo == "spectral":
        with pytest.raises(ValueError, match=r"0\.\.10, outside the node ids 0\.\.3"):
            spectral_embedding(g, k=2)
        return
    out = {
        "article_rank": lambda: article_rank(g, max_iterations=3),
        "eigenvector": lambda: eigenvector_centrality(g, max_iterations=3),
        "katz": lambda: katz_centrality(g, max_iterations=3),
        "hits": lambda: hits(g, max_iterations=3),
        "ppr": lambda: ppr_batch(g, [0], iterations=3),
    }[algo]()
    assert sorted(r["id"] for r in out.collect()) == [0, 1, 2, 3]


def test_auto_runs_csr_on_edge_endpoint_outside_node_ids(spark):
    g = _phantom_graph(spark)
    auto = PageRank(max_iterations=3)
    got = {r["id"]: r["rank"] for r in auto.run(g).collect()}
    assert auto.resolved_strategy == "csr"
    want = {r["id"]: r["rank"] for r in PageRank(strategy="csr", max_iterations=3).run(g).collect()}
    assert got == want
