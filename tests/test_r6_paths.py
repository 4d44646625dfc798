"""Round-6 path-parity regressions.

The r6 optimization round added driver-local crossovers below
DRIVER_EDGE_THRESHOLD (WCC union-find, MSBFS, ANF, LPA, k-hop sampling,
cluster tails, the pull engine, k-means Lloyd, the bitset Jaccard kernel,
the Arrow cosine kernel), later joined by SCC, the numpy triangle kernel
(triangle count and stream), k-truss and k-core — which means ordinary
small-fixture tests now exercise the DRIVER paths only. These tests force the DISTRIBUTED /
codegen paths by monkeypatching the crossover constants and assert they
produce exactly the same results as the default (driver) paths, so the
at-scale code can never silently rot.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

import linkgraph.algorithms.blocks as B
from linkgraph.graph import Graph


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.fixture()
def small_graph(spark):
    edges = []
    rng = np.random.RandomState(7)
    n = 60
    for i in range(n):
        for j in rng.choice(n, size=3, replace=False):
            if i != int(j):
                edges.append((i, int(j), 1.0 + (i + int(j)) % 3))
    e = spark.createDataFrame(edges, "src long, dst long, weight double")
    nodes = spark.range(n).select(F.col("id"))
    return Graph.from_edges(e, nodes=nodes)


def test_wcc_distributed_matches_union_find(spark, small_graph, monkeypatch):
    from linkgraph.algorithms.wcc import wcc

    local = _rows(wcc(small_graph), ["id", "component"])
    monkeypatch.setattr(B, "DRIVER_EDGE_THRESHOLD", 0)
    dist = _rows(wcc(small_graph), ["id", "component"])
    assert local == dist


def test_msbfs_distributed_matches_local(spark, small_graph, monkeypatch):
    from linkgraph.algorithms.msbfs import msbfs_distance_sums

    local = _rows(
        msbfs_distance_sums(small_graph, direction="BOTH"),
        ["id", "reachable", "dist_sum"],
    )
    monkeypatch.setattr(B, "DRIVER_EDGE_THRESHOLD", 0)
    dist = _rows(
        msbfs_distance_sums(small_graph, direction="BOTH"),
        ["id", "reachable", "dist_sum"],
    )
    assert local == dist


def test_anf_distributed_matches_local(spark, small_graph, monkeypatch):
    from linkgraph.algorithms.anf import neighborhood_function

    local = _rows(
        neighborhood_function(small_graph, max_h=8, num_trials=8),
        ["h", "neighborhood_estimate"],
    )
    monkeypatch.setattr(B, "DRIVER_EDGE_THRESHOLD", 0)
    dist = _rows(
        neighborhood_function(small_graph, max_h=8, num_trials=8),
        ["h", "neighborhood_estimate"],
    )
    assert local == dist


def test_lpa_distributed_matches_local(spark, small_graph, monkeypatch):
    from linkgraph.algorithms.lpa import label_propagation

    local = _rows(
        label_propagation(small_graph, max_iterations=6), ["id", "label"]
    )
    monkeypatch.setattr(B, "DRIVER_EDGE_THRESHOLD", 0)
    dist = _rows(
        label_propagation(small_graph, max_iterations=6), ["id", "label"]
    )
    assert local == dist


def test_khop_distributed_matches_local(spark, small_graph, monkeypatch):
    from linkgraph.algorithms.sampling import k_hop_sample

    e = small_graph.edges.select("src", "dst")
    ue = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()
    seeds = spark.range(0, 60, 7).select(F.col("id"))
    local = _rows(k_hop_sample(ue, seeds, (3, 2)), ["hop", "src", "dst"])
    monkeypatch.setattr(B, "DRIVER_EDGE_THRESHOLD", 0)
    dist = _rows(k_hop_sample(ue, seeds, (3, 2)), ["hop", "src", "dst"])
    assert local == dist


def test_store_key_changes_when_parquet_mutates(spark, tmp_path):
    # r5 verdict: the block-store cache keyed on the plan's semanticHash
    # alone, so overwriting a parquet file beneath a semantically identical
    # plan silently served stale CSR/CSC blocks. The key now folds in an
    # input-files fingerprint (path, size, mtime), so mutation ⇒ new key ⇒
    # rebuild, while an untouched table keeps a stable (cache-hitting) key.
    import time

    p = str(tmp_path / "edges.parquet")
    df1 = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 1.0)], "src long, dst long, weight double"
    )
    df1.coalesce(1).write.mode("overwrite").parquet(p)
    k1 = B.semantic_store_key(spark.read.parquet(p), "t")
    k1b = B.semantic_store_key(spark.read.parquet(p), "t")
    assert k1 is not None and k1 == k1b
    time.sleep(0.05)  # ensure a distinct mtime even on coarse filesystems
    df2 = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 1.0), (2, 0, 1.0)], "src long, dst long, weight double"
    )
    df2.coalesce(1).write.mode("overwrite").parquet(p)
    k2 = B.semantic_store_key(spark.read.parquet(p), "t")
    assert k2 is not None and k2 != k1


def test_scc_distributed_matches_local(spark, small_graph, monkeypatch):
    from linkgraph.algorithms.scc import scc

    local = _rows(scc(small_graph), ["id", "component"])
    monkeypatch.setattr(B, "DRIVER_EDGE_THRESHOLD", 0)
    dist = _rows(scc(small_graph), ["id", "component"])
    assert local == dist


def test_scc_distributed_matches_local_structured(spark, monkeypatch):
    # exercises trim (DAG tail + isolated node), several color classes,
    # and a second outer round (cycle B takes the color of cycle C's root
    # 46 via 45→10 but is not in its SCC, so it survives round 1)
    from linkgraph.algorithms.scc import scc

    edges = (
        [(0, 1), (1, 2), (2, 0)]                      # cycle A
        + [(10, 11), (11, 12), (12, 13), (13, 14), (14, 10)]  # cycle B
        + [(20, 21), (21, 22), (22, 2)]               # DAG tail into A
        + [(2, 10)]                                   # A reaches B, not back
        + [(40, 41), (41, 40)]                        # 2-cycle
        + [(45, 46), (46, 45), (45, 10)]              # cycle C colors B
    )
    e = spark.createDataFrame(
        [(s, d, 1.0) for s, d in edges], "src long, dst long, weight double"
    )
    nodes = spark.createDataFrame(
        [(i,) for i in sorted({s for s, _ in edges} | {d for _, d in edges} | {30})],
        "id long",
    )
    g = Graph.from_edges(e, nodes=nodes)
    local = _rows(scc(g), ["id", "component"])
    # spot-check the expected structure on the driver path
    comp = dict(local)
    assert comp[0] == comp[1] == comp[2] == 0
    assert comp[10] == comp[14] == 10
    assert comp[45] == comp[46] == 45
    assert comp[20] == 20 and comp[30] == 30
    monkeypatch.setattr(B, "DRIVER_EDGE_THRESHOLD", 0)
    dist = _rows(scc(g), ["id", "component"])
    assert local == dist


def test_clusters_from_pairs_distributed_matches_local(spark, monkeypatch):
    from linkgraph.pipeline.dedup import _clusters_from_pairs

    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6), (8, 9), (9, 0)], "a long, b long"
    )
    items = spark.range(12).select(F.col("id").alias("doc_id"))
    local = _rows(
        _clusters_from_pairs(pairs, items, "doc_id"),
        ["doc_id", "cluster", "is_representative"],
    )
    monkeypatch.setattr(B, "DRIVER_EDGE_THRESHOLD", -1)
    dist = _rows(
        _clusters_from_pairs(pairs, items, "doc_id"),
        ["doc_id", "cluster", "is_representative"],
    )
    assert local == dist


def test_pull_engine_distributed_matches_local(spark, tmp_path, small_graph):
    sc = spark.sparkContext
    edges = small_graph.edges.select("src", "dst").withColumn("weight", F.lit(1.0))
    path = str(tmp_path / "pull")
    B.write_pull_blocks(edges, 4, path)
    n = 60
    p = np.arange(n, dtype=np.float64) + 1.0
    local_step = B.pull_engine(sc, path, 4, n)  # 180 edges << threshold
    dist = B.pull_superstep(sc, path, 4, n, p)
    assert np.array_equal(local_step(p), dist)  # bit-identical arithmetic


def test_pull_engine_multi_distributed_matches_local(spark, tmp_path, small_graph):
    sc = spark.sparkContext
    edges = small_graph.edges.select("src", "dst").withColumn("weight", F.lit(1.0))
    path = str(tmp_path / "pullm")
    B.write_pull_blocks(edges, 3, path)
    n = 60
    P = np.vstack([np.ones(n), np.arange(n, dtype=np.float64)]).T
    local_step = B.pull_engine_multi(sc, path, 3, n)
    dist = B.pull_superstep_multi(sc, path, 3, n, P)
    assert np.array_equal(local_step(P), dist)


def test_fused_csr_matches_pull_rounded(spark, small_graph):
    from linkgraph.algorithms.pagerank import PageRank

    csr = PageRank(max_iterations=10, strategy="csr").run(small_graph)
    pull = PageRank(max_iterations=10, strategy="pull").run(small_graph)
    a = {r["id"]: round(r["rank"], 9) for r in csr.collect()}
    b = {r["id"]: round(r["rank"], 9) for r in pull.collect()}
    assert set(a) == set(b)
    for k in a:
        assert abs(a[k] - b[k]) < 1e-9


def test_bitset_jaccard_matches_codegen(spark, monkeypatch):
    import linkgraph.pipeline.dedup as D

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{(i + j) % 9}" for j in range(5))) for i in range(40)],
        "doc_id long, text string",
    )
    bit = _rows(D._direct_jaccard_pairs(docs, 0.5, "text"), ["a", "b", "jaccard"])
    monkeypatch.setattr(D, "_BITSET_MAX_VOCAB", 0)
    codegen = _rows(D._direct_jaccard_pairs(docs, 0.5, "text"), ["a", "b", "jaccard"])
    assert bit == codegen and len(bit) > 0


def test_cosine_arrow_matches_hof(spark, monkeypatch):
    import linkgraph.pipeline.ann as A

    rng = np.random.RandomState(3)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.rand(16)]) for i in range(50)],
        "vec_id long, embedding array<double>",
    )
    arrow = _rows(
        A.cosine_topk_bruteforce(emb.filter(F.col("vec_id") < 10), emb, k=4),
        ["a", "b", "cosine"],
    )
    monkeypatch.setattr(A, "_BRUTE_MAX_BROADCAST", 0)
    hof = _rows(
        A.cosine_topk_bruteforce(emb.filter(F.col("vec_id") < 10), emb, k=4),
        ["a", "b", "cosine"],
    )
    assert arrow == hof and len(arrow) == 40


def test_lloyd_distributed_matches_driver(spark, monkeypatch):
    import linkgraph.pipeline.ann as A

    rng = np.random.RandomState(11)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.rand(8)]) for i in range(120)],
        "vec_id long, embedding array<double>",
    )
    driver = A.train_ivf_centroids_distributed(emb, num_cells=4, iters=3, seed=5)
    monkeypatch.setattr(A, "LLOYD_DRIVER_BUDGET", 1)
    dist = A.train_ivf_centroids_distributed(emb, num_cells=4, iters=3, seed=5)
    assert np.allclose(driver, dist, atol=1e-12)


@pytest.fixture()
def messy_graph(spark):
    """A wheel around hub 0 (its rim edges close one triangle each, so a
    k=4 truss peel cascades: rim first, then the spokes), a 5-clique, a
    pendant chain (a k=2 core peel takes one node per round), duplicate
    and reciprocal edges, self-loops, isolated nodes 13-19 and 30-31, and
    node 99, which closes triangles but is not in the node table."""
    wheel = [(0, i) for i in range(1, 13)] + [(i, i % 12 + 1) for i in range(1, 13)]
    clique = [(a, b) for a in range(20, 25) for b in range(a + 1, 25)]
    chain = [(12, 40), (40, 41), (41, 42)]
    messy = [(0, 1), (2, 0), (5, 4), (21, 20), (3, 3), (20, 20)]
    outside = [(24, 99), (23, 99), (99, 22)]
    edges = wheel + clique + chain + messy + outside
    e = spark.createDataFrame(
        [(s, d, 1.0) for s, d in edges], "src long, dst long, weight double"
    )
    ids = list(range(25)) + [30, 31, 40, 41, 42]
    return Graph.from_edges(e, nodes=spark.createDataFrame([(i,) for i in ids], "id long"))


@pytest.fixture()
def edgeless_graph(spark):
    e = spark.createDataFrame([], "src long, dst long, weight double")
    return Graph.from_edges(e, nodes=spark.range(5).select(F.col("id")))


def _both_sides(monkeypatch, run):
    """run() on the driver side, then with every crossover forced to the
    distributed side (-1: even an empty table is over budget)."""
    local = run()
    monkeypatch.setattr(B, "DRIVER_EDGE_THRESHOLD", -1)
    try:
        return local, run()
    finally:
        monkeypatch.undo()


@pytest.mark.parametrize("graph", ["messy_graph", "edgeless_graph"])
def test_triangle_count_distributed_matches_kernel(spark, graph, request, monkeypatch):
    import linkgraph.algorithms.triangles as T

    g = request.getfixturevalue(graph)
    assert T._triangles_local(g) is not None
    local, dist = _both_sides(
        monkeypatch, lambda: _rows(T.triangle_count(g), ["id", "triangles", "coefficient"])
    )
    assert local == dist  # bit-identical coefficients
    if graph == "messy_graph":
        tri = dict((i, t) for i, t, _ in local)
        assert tri[0] == 12 and tri[22] == 8 and tri[13] == 0 and 99 not in tri
    monkeypatch.setattr(B, "DRIVER_EDGE_THRESHOLD", -1)
    assert T._triangles_local(g) is None


@pytest.mark.parametrize("graph", ["messy_graph", "edgeless_graph"])
def test_triangle_stream_distributed_matches_kernel(spark, graph, request, monkeypatch):
    from linkgraph.algorithms.triangles import triangle_stream

    g = request.getfixturevalue(graph)
    local, dist = _both_sides(
        monkeypatch, lambda: _rows(triangle_stream(g), ["a", "b", "c"])
    )
    assert local == dist
    assert len(local) == (12 + 10 + 3 if graph == "messy_graph" else 0)


@pytest.mark.parametrize("max_rounds", [30, 1])
def test_ktruss_distributed_matches_local(spark, messy_graph, max_rounds, monkeypatch):
    from linkgraph.algorithms.ktruss import k_truss

    def run():
        out = k_truss(messy_graph, k=4, max_rounds=max_rounds)
        return _rows(out, ["src", "dst", "support"]), out.rounds, out.did_converge

    local, dist = _both_sides(monkeypatch, run)
    assert local == dist
    rows, rounds, converged = local
    if max_rounds == 1:  # rim dropped, spokes recounted at support 0
        assert (rounds, converged) == (1, False)
        assert {(s, d) for s, d, _ in rows} >= {(0, i) for i in range(1, 13)}
        assert all(sup == 0 for s, d, sup in rows if s == 0)
    else:  # the clique (+ node 99's triangles) is the 4-truss
        assert (rounds, converged) == (3, True)
        assert {s for s, _, _ in rows} == {20, 21, 22, 23, 24}


def test_ktruss_edgeless_distributed_matches_local(spark, edgeless_graph, monkeypatch):
    from linkgraph.algorithms.ktruss import k_truss

    def run():
        out = k_truss(edgeless_graph, k=3)
        return _rows(out, ["src", "dst", "support"]), out.rounds, out.did_converge

    local, dist = _both_sides(monkeypatch, run)
    assert local == dist == ([], 1, True)


@pytest.mark.parametrize("k,max_rounds", [(2, 100), (2, 2), (3, 100), (0, 100)])
def test_kcore_distributed_matches_local(spark, messy_graph, k, max_rounds, monkeypatch):
    from linkgraph.algorithms.kcore import k_core

    def run():
        out = k_core(messy_graph, k, max_rounds=max_rounds)
        return _rows(out, ["id", "in_core"]), out.iterations, out.did_converge

    local, dist = _both_sides(monkeypatch, run)
    assert local == dist
    core = {i for i, c in local[0] if c}
    if (k, max_rounds) == (2, 100):  # the chain peels one node per round
        assert local[1:] == (4, True) and not core & {13, 30, 40, 41, 42}
    if (k, max_rounds) == (2, 2):
        assert local[1:] == (2, False) and 40 in core and 41 not in core


def test_kcore_edgeless_distributed_matches_local(spark, edgeless_graph, monkeypatch):
    from linkgraph.algorithms.kcore import k_core

    def run():
        out = k_core(edgeless_graph, 1)
        return _rows(out, ["id", "in_core"]), out.iterations, out.did_converge

    local, dist = _both_sides(monkeypatch, run)
    assert local == dist
    assert local[0] == [(i, False) for i in range(5)]


def test_scc_node_probe_falls_back_to_distributed(spark, monkeypatch):
    # few edges but a node table over the budget: the node table must not
    # be collected, and the distributed path gives the same components
    from linkgraph.algorithms.scc import _scc_local, scc

    e = spark.createDataFrame(
        [(0, 1, 1.0), (1, 0, 1.0), (2, 3, 1.0)], "src long, dst long, weight double"
    )
    g = Graph.from_edges(e, nodes=spark.range(12).select(F.col("id")))
    local = _rows(scc(g), ["id", "component"])
    monkeypatch.setattr(B, "DRIVER_EDGE_THRESHOLD", 5)
    assert _scc_local(g.edges.select("src", "dst"), g.nodes, 100) is None
    assert _rows(scc(g), ["id", "component"]) == local
    assert dict(local)[1] == 0 and dict(local)[11] == 11


def test_store_key_changes_when_part_file_rewritten_in_place(spark, tmp_path):
    # same path, bytes rewritten inside the existing part file: only the
    # (size, mtime_ns) stat of the file can flip the key. The reads give
    # the schema, so planning never opens the (now corrupt) file.
    import glob
    import time

    schema = "src long, dst long, weight double"
    p = str(tmp_path / "edges.parquet")
    spark.createDataFrame([(0, 1, 1.0), (1, 2, 1.0)], schema).coalesce(1).write.parquet(p)
    (part,) = glob.glob(f"{p}/part-*.parquet")

    def key():
        return B.semantic_store_key(spark.read.schema(schema).parquet(p), "t")

    k1 = key()
    assert k1 is not None and k1 == key()
    time.sleep(0.05)  # a distinct mtime even on coarse filesystems
    with open(part, "r+b") as f:  # same size, one byte flipped
        f.seek(8)
        b = f.read(1)
        f.seek(8)
        f.write(bytes([b[0] ^ 0xFF]))
    k2 = key()
    assert k2 != k1
    with open(part, "ab") as f:  # appended bytes: the size changes
        f.write(b"\0")
    assert key() not in (k1, k2)
