import numpy as np
import pytest
from pyspark.sql import functions as F

from linkgraph import Graph
from linkgraph.algorithms import blocks
from linkgraph.algorithms.lpa import label_propagation
from linkgraph.algorithms.triangles import triangle_count, triangle_count_global, triangle_stream
from linkgraph.algorithms.wcc import _contract_partitions, wcc, wcc_stats

from conftest import edges_df, nodes_df
from oracles import np_lpa_sync, np_triangles, np_wcc

# FIXTURES.md G_WCC: 3 components + a threshold-sensitive bridge
G_WCC = [
    (0, 1, 1.0), (1, 2, 1.0), (2, 3, 1.0), (4, 5, 1.0), (5, 6, 1.0),
    (6, 4, 1.0), (3, 4, 0.5),
]
WCC_IDS = list(range(9))  # 7 and 8 isolated

# FIXTURES.md G_LPA
G_LPA = [
    (0, 1, 1.0), (1, 2, 1.0), (0, 2, 1.0), (3, 4, 1.0), (4, 5, 1.0),
    (3, 5, 1.0), (2, 3, 0.1),
]
LPA_IDS = list(range(6))

# FIXTURES.md G_TRI: 2 triangles sharing edge (1,2)
G_TRI = [(0, 1, 1.0), (0, 2, 1.0), (1, 2, 1.0), (1, 3, 1.0), (2, 3, 1.0)]
TRI_IDS = [0, 1, 2, 3]


def test_wcc_components(spark):
    g = Graph.from_edges(edges_df(spark, G_WCC), nodes=nodes_df(spark, WCC_IDS))
    got = {r["id"]: r["component"] for r in wcc(g).collect()}
    assert got == np_wcc(G_WCC, WCC_IDS)
    assert got[0] == 0 and got[6] == 0 and got[7] == 7 and got[8] == 8


def test_wcc_threshold(spark):
    g = Graph.from_edges(edges_df(spark, G_WCC), nodes=nodes_df(spark, WCC_IDS))
    got = {r["id"]: r["component"] for r in wcc(g, threshold=0.8).collect()}
    golden = np_wcc(G_WCC, WCC_IDS, threshold=0.8)
    assert got == golden
    sizes = sorted(list(got.values()).count(c) for c in set(got.values()))
    assert sizes == [1, 1, 3, 4]


def _shuffled_path(n, seed):
    rng = np.random.default_rng(seed)
    ids = rng.permutation(n)
    path = [(int(ids[i]), int(ids[i + 1]), 1.0) for i in range(n - 1)]
    return [path[i] for i in rng.permutation(n - 1)]


def test_wcc_long_chain_pointer_jumping(spark, uncoalesced, monkeypatch):
    # a shuffled 500-node path on the distributed side (ids 0..n-1: the
    # pull side) must converge in O(log n) supersteps, far inside the 250
    # hash-min would need
    monkeypatch.setattr(blocks, "DRIVER_EDGE_THRESHOLD", 0)
    g = Graph.from_edges(edges_df(spark, _shuffled_path(500, seed=3)))
    out = wcc(g, max_iterations=12)
    got = {r["id"]: r["component"] for r in out.collect()}
    assert got == {i: 0 for i in range(500)}
    assert out.did_converge and 2 <= out.iterations <= 12


def test_wcc_contraction_invariants(spark):
    rng = np.random.default_rng(11)
    n, m = 300, 240
    edges = [(int(a), int(b), 1.0) for a, b in rng.integers(0, n, size=(m, 2)) if a != b]
    sym = (
        edges_df(spark, edges + [(d, s, w) for s, d, w in edges])
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .repartition(4)
        .localCheckpoint(eager=True)
    )
    out = _contract_partitions(sym).localCheckpoint(eager=True)

    def per_partition(df):
        return dict(df.groupBy(F.spark_partition_id()).count().collect())

    rows_in, rows_out = per_partition(sym), per_partition(out)
    assert len(rows_in) == 4
    assert all(rows_out.get(p, 0) <= c for p, c in rows_in.items())

    ids = sorted({x for s, d, _ in edges for x in (s, d)})
    want = np_wcc(edges, ids)
    pairs = [(r["u"], r["v"]) for r in out.collect()]
    assert all(want[u] == want[v] for u, v in pairs)
    assert np_wcc([(u, v, 1.0) for u, v in pairs], ids) == want


def test_wcc_stats(spark):
    g = Graph.from_edges(edges_df(spark, G_WCC), nodes=nodes_df(spark, WCC_IDS))
    row = wcc_stats(wcc(g)).first()
    assert row["communityCount"] == 3
    assert row["maxSetSize"] == 7


def test_wcc_checkpoint_resume(spark, tmp_path, uncoalesced):
    from linkgraph.io import CheckpointManager

    g = Graph.from_edges(edges_df(spark, _shuffled_path(500, seed=5)))
    full = {r["id"]: r["component"] for r in wcc(g).collect()}
    ck = CheckpointManager(spark, str(tmp_path / "wcc_ck"))
    cut = wcc(g, max_iterations=2, checkpoint=ck, checkpoint_every=1)
    assert not cut.did_converge  # interrupted early
    resumed = {r["id"]: r["component"]
               for r in wcc(g, checkpoint=ck, checkpoint_every=1).collect()}
    assert resumed == full == {i: 0 for i in range(500)}


def test_lpa_seeded_clusters(spark):
    nodes = nodes_df(spark, LPA_IDS, seeds={0: 10, 3: 20})
    g = Graph.from_edges(edges_df(spark, G_LPA), nodes=nodes)
    got = {r["id"]: r["label"] for r in
           label_propagation(g, max_iterations=50, seed_col="seed").collect()}
    golden = np_lpa_sync(G_LPA, LPA_IDS, seeds={0: 10, 3: 20})
    assert got == golden
    # two distinct clusters
    assert got[0] == got[1] == got[2]
    assert got[3] == got[4] == got[5]
    assert got[0] != got[3]


def test_lpa_unseeded(spark):
    g = Graph.from_edges(edges_df(spark, G_LPA), nodes=nodes_df(spark, LPA_IDS))
    got = {r["id"]: r["label"] for r in label_propagation(g, max_iterations=50).collect()}
    golden = np_lpa_sync(G_LPA, LPA_IDS)
    assert got == golden


def test_triangle_counts(spark):
    g = Graph.from_edges(edges_df(spark, G_TRI), nodes=nodes_df(spark, TRI_IDS))
    got = {r["id"]: (r["triangles"], r["coefficient"])
           for r in triangle_count(g).collect()}
    tri, coef = np_triangles(G_TRI, TRI_IDS)
    for i in TRI_IDS:
        assert got[i][0] == tri[i]
        assert got[i][1] == pytest.approx(coef[i])
    assert {i: t for i, (t, _) in got.items()} == {0: 1, 1: 2, 2: 2, 3: 1}


def test_triangle_global(spark):
    g = Graph.from_edges(edges_df(spark, G_TRI), nodes=nodes_df(spark, TRI_IDS))
    row = triangle_count_global(g).first()
    assert row["triangleCount"] == 2
    assert row["averageClusteringCoefficient"] == pytest.approx(5.0 / 6.0)


def test_triangle_stream_rows(spark):
    g = Graph.from_edges(edges_df(spark, G_TRI), nodes=nodes_df(spark, TRI_IDS))
    rows = sorted(tuple(r) for r in triangle_stream(g).collect())
    assert rows == [(0, 1, 2), (1, 2, 3)]


def test_triangles_direction_invariant(spark):
    # same undirected graph given with reversed/duplicated directions
    doubled = G_TRI + [(d, s, w) for s, d, w in G_TRI]
    g = Graph.from_edges(edges_df(spark, doubled), nodes=nodes_df(spark, TRI_IDS))
    row = triangle_count_global(g).first()
    assert row["triangleCount"] == 2


def test_lpa_checkpoint_resume(spark, tmp_path):
    from linkgraph.io import CheckpointManager
    from linkgraph.algorithms.lpa import label_propagation

    edges = [(i, i + 1, 1.0) for i in range(12)] + [(20, 21, 1.0), (21, 22, 1.0)]
    g = Graph.from_edges(edges_df(spark, edges))
    full = {r["id"]: r["label"]
            for r in label_propagation(g, max_iterations=8).collect()}
    ck = CheckpointManager(spark, str(tmp_path / "lpa_ck"))
    # interrupted after 2 of 8 iterations, snapshot every iteration
    label_propagation(g, max_iterations=2, checkpoint=ck, checkpoint_every=1,
                      run_to_convergence=False)
    resumed = {r["id"]: r["label"]
               for r in label_propagation(g, max_iterations=8, checkpoint=ck,
                                          checkpoint_every=1).collect()}
    assert resumed == full


def _count_pull_supersteps(monkeypatch):
    calls = []
    orig = blocks.pull_superstep

    def counting(*a, **kw):
        calls.append(kw.get("kernel"))
        return orig(*a, **kw)

    monkeypatch.setattr(blocks, "pull_superstep", counting)
    return calls


def test_wcc_shuffled_path_pull_and_kiveris(spark, uncoalesced, monkeypatch):
    """A shuffled 500-node path: the pull side (ids 0..n-1) converges in at
    most 2·⌈log₂ n⌉ supersteps, one pull job each; with ids that are not
    0..n-1 the Kiveris star rounds still converge."""
    monkeypatch.setattr(blocks, "DRIVER_EDGE_THRESHOLD", 0)
    calls = _count_pull_supersteps(monkeypatch)
    n = 500
    path = _shuffled_path(n, seed=3)
    out = wcc(Graph.from_edges(edges_df(spark, path)))
    assert {r["id"]: r["component"] for r in out.collect()} == {i: 0 for i in range(n)}
    assert out.did_converge
    assert out.iterations <= 2 * int(np.ceil(np.log2(n)))
    assert calls == [blocks.min_kernel] * out.iterations

    calls.clear()
    shifted = [(s + 1000, d + 1000, w) for s, d, w in path]
    out = wcc(Graph.from_edges(edges_df(spark, shifted)), max_iterations=12)
    got = {r["id"]: r["component"] for r in out.collect()}
    assert got == {i + 1000: 1000 for i in range(n)}
    assert out.did_converge and calls == []


@pytest.mark.parametrize("first", ["pull", "dataframe"])
def test_lpa_checkpoint_resumes_across_sides(spark, tmp_path, monkeypatch, first):
    """A label checkpoint written on one distributed side resumes on the
    other with the labels and iteration count of an uninterrupted run."""
    from linkgraph.io import CheckpointManager

    edges = [(i, i + 1, 1.0) for i in range(12)] + [(3, 9, 2.0), (0, 12, 1.0)]
    g = Graph.from_edges(edges_df(spark, edges))
    full = label_propagation(g, max_iterations=8)
    want = {r["id"]: r["label"] for r in full.collect()}
    calls = _count_pull_supersteps(monkeypatch)

    def run(side, **kw):
        with monkeypatch.context() as m:
            if side == "dataframe":  # no pull side under a zero node cap
                m.setattr(blocks, "_pull_node_cap", lambda s: 0)
            before = len(calls)
            out = label_propagation(g, checkpoint=ck, checkpoint_every=1, **kw)
            assert (len(calls) > before) == (side == "pull")
            return out

    ck = CheckpointManager(spark, str(tmp_path / "lpa_ck"))
    cut = run(first, max_iterations=2, run_to_convergence=False)
    assert cut.iterations == 2 and not cut.did_converge
    resumed = run("dataframe" if first == "pull" else "pull", max_iterations=8)
    assert {r["id"]: r["label"] for r in resumed.collect()} == want
    assert (resumed.iterations, resumed.did_converge) == (full.iterations, full.did_converge)


def test_phantom_endpoint_keeps_wcc_and_lpa_off_the_pull_side(spark, monkeypatch):
    """An edge endpoint that is no node id (10 with nodes 0..3) sends WCC
    and LPA to their DataFrame sides, which agree with the driver sides."""
    e = edges_df(spark, [(0, 1, 1.0), (1, 10, 1.0), (10, 2, 1.0)])
    g = Graph.from_edges(e, nodes=nodes_df(spark, range(4)))
    driver = (
        {r["id"]: r["component"] for r in wcc(g).collect()},
        {r["id"]: r["label"] for r in label_propagation(g).collect()},
    )
    monkeypatch.setattr(blocks, "DRIVER_EDGE_THRESHOLD", 0)
    calls = _count_pull_supersteps(monkeypatch)
    dist = (
        {r["id"]: r["component"] for r in wcc(g).collect()},
        {r["id"]: r["label"] for r in label_propagation(g).collect()},
    )
    assert calls == []
    assert dist == driver
    # 10 is no node, but it connects 0, 1 and 2 on every side
    assert dist[0] == {0: 0, 1: 0, 2: 0, 3: 3}


def test_wcc_and_lpa_share_one_pull_store(spark, monkeypatch):
    """WCC and direction-BOTH LPA build their pull stores from the same
    symmetric plan, so the second call reuses the first one's store."""
    monkeypatch.setattr(blocks, "DRIVER_EDGE_THRESHOLD", 0)
    builds = []
    write = blocks.write_pull_blocks
    monkeypatch.setattr(
        blocks, "write_pull_blocks", lambda *a, **kw: builds.append(1) or write(*a, **kw)
    )
    calls = _count_pull_supersteps(monkeypatch)
    edges, ids = G_LPA + [(6, 7, 1.0)], list(range(8))  # a graph no other test builds
    g = Graph.from_edges(edges_df(spark, edges), nodes=nodes_df(spark, ids))
    assert {r["id"]: r["component"] for r in wcc(g).collect()} == np_wcc(edges, ids)
    got = {r["id"]: r["label"] for r in label_propagation(g, max_iterations=50).collect()}
    assert got == np_lpa_sync(edges, ids)
    assert set(calls) == {blocks.min_kernel, blocks.vote_kernel}
    assert len(builds) == 1
