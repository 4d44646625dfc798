"""Spectral embedding vs numpy eigendecomposition."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from linkgraph.graph import Graph
from linkgraph.algorithms.spectral import spectral_embedding


def _graph(spark, pairs, n):
    e = spark.createDataFrame(
        [(s, d, 1.0) for s, d in pairs], "src long, dst long, weight double"
    )
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    return Graph.from_edges(e, nodes=nodes)


def _numpy_basis(pairs, n, k):
    A = np.zeros((n, n))
    for s, d in pairs:
        A[s, d] = 1.0
        A[d, s] = 1.0
    d = A.sum(axis=1)
    d[d == 0] = 1.0
    N = A / np.sqrt(np.outer(d, d))
    w, v = np.linalg.eigh(N)
    order = np.argsort(-np.abs(w))[:k]
    return w[order], v[:, order]


def test_spectral_subspace_matches_numpy(spark):
    # two 4-cliques joined by one bridge: clear spectral structure
    pairs = (
        [(a, b) for a in range(4) for b in range(a + 1, 4)]
        + [(a, b) for a in range(4, 8) for b in range(a + 1, 8)]
        + [(3, 4)]
    )
    n, k = 8, 2
    got = spectral_embedding(_graph(spark, pairs, n), k=k, max_iterations=200)
    X = np.array(
        [r.vec for r in got.orderBy("id").collect()]
    )
    _, V = _numpy_basis(pairs, n, k)
    # subspace distance: projections must agree (X and V span the same space)
    P_got = X @ X.T
    P_ref = V @ V.T
    assert np.abs(P_got - P_ref).max() < 1e-4


def test_spectral_deterministic(spark):
    pairs = [(i, (i * 5 + 2) % 12) for i in range(12) if i != (i * 5 + 2) % 12]
    g = _graph(spark, pairs, 12)
    a = spectral_embedding(g, k=3, max_iterations=60).orderBy("id").collect()
    b = spectral_embedding(g, k=3, max_iterations=60).orderBy("id").collect()
    assert [r.vec for r in a] == [r.vec for r in b]


def test_spectral_separates_components(spark):
    # two disconnected triangles: leading eigenvectors are component
    # indicators — rows within a component must embed (near-)identically
    pairs = [(0, 1), (1, 2), (2, 0), (3, 4), (4, 5), (5, 3)]
    got = spectral_embedding(_graph(spark, pairs, 6), k=2, max_iterations=120)
    X = np.array([r.vec for r in got.orderBy("id").collect()])
    for comp in ([0, 1, 2], [3, 4, 5]):
        for i in comp[1:]:
            assert np.abs(X[i] - X[comp[0]]).max() < 1e-3


def test_spectral_driver_cap_guard(spark, monkeypatch):
    """r4 VERDICT task 9: beyond the memory-aware driver cap the call must
    refuse loudly (pointing at the cap) instead of silently OOMing."""
    from linkgraph.algorithms import blocks
    from linkgraph.algorithms.spectral import spectral_embedding
    from linkgraph.graph import Graph

    edges = spark.createDataFrame([(0, 1, 1.0), (1, 2, 1.0)], ["src", "dst", "weight"])
    nodes = spark.range(3).withColumnRenamed("id", "id")
    g = Graph.from_edges(edges, nodes=nodes.select("id"))
    monkeypatch.setattr(blocks, "_pull_node_cap", lambda s: 4)
    with pytest.raises(ValueError, match="basis cap"):
        spectral_embedding(g, k=2)  # cap//k = 2 < n=3
