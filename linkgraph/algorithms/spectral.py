"""Spectral node embedding by distributed orthogonal iteration.

The k leading eigenvectors of the symmetrically normalized adjacency
N = D^{-1/2} (A + Aᵀ) D^{-1/2} — the classical spectral-embedding /
spectral-clustering basis (Ng-Jordan-Weiss, NIPS 2001; von Luxburg's
tutorial 2007). Orthogonal (subspace) iteration: X ← QR(N·X), which is
power iteration on k vectors with re-orthonormalization, converging to
the dominant invariant subspace at rate |λ_{k+1}/λ_k|.

Execution model mirrors PageRank's pull strategy:

  * N is materialized ONCE as a CSC block store (one shuffle; edges are
    symmetrized and weighted 1/√(d_u d_v) at build time — pure DataFrame
    prep, so Catalyst plans the degree joins);
  * each multiply is one `blocks.pull_engine` step over the n×k basis:
    driver-local while the store fits the driver crossover, else one
    zero-shuffle `blocks.pull_superstep` job for all k columns (the basis
    broadcast once, the store worker-resident and OS-page-cache shared);
  * the QR factorization runs on the n×k driver matrix (same n ≤ ~1e8
    broadcast ceiling as PageRank's pull path, documented there); beyond
    it, the push/CSR strategy is the fallback just as for PageRank.

Engine-added (the reference has the Eigenvector proc but no k-dim
spectral basis); feeds kNN-graph clustering and graph-feature pipelines.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

from linkgraph.algorithms import blocks
from linkgraph.graph import Graph


def _sym_normalized_edges(graph: Graph) -> DataFrame:
    """(src, dst, w/sqrt(s_src*s_dst)) over the symmetrized edge set —
    both directions present, so N·x is one gather per direction. Edge
    weights are HONORED (the NJW formulation over the weighted adjacency):
    s_u is the weighted degree; parallel duplicates are weight-summed."""
    e = graph.edges.select(
        "src", "dst", F.coalesce(F.col("weight"), F.lit(1.0)).alias("w")
    )
    sym = (
        e.unionByName(
            e.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
            )
        )
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
    )
    deg = sym.groupBy("src").agg(F.sum("w").alias("s"))
    return (
        sym.join(deg, "src")
        .join(
            deg.select(F.col("src").alias("dst"), F.col("s").alias("s2")),
            "dst",
        )
        .select(
            "src",
            "dst",
            (F.col("w") / F.sqrt(F.col("s") * F.col("s2"))).alias("weight"),
        )
    )


def spectral_embedding(
    graph: Graph,
    k: int = 4,
    max_iterations: int = 30,
    tolerance: float = 1e-7,
    seed: int = 42,
) -> DataFrame:
    """→ (id, vec: array<double>[k]) — row i of the n×k dominant-
    eigenvector basis of the normalized adjacency (k is clamped to n).
    Deterministic: the start basis comes from a seeded RNG and every step
    is exact linear algebra, so results are partition- and run-invariant.
    Sign convention: each column's largest-|entry| component is made
    positive (eigenvectors are sign-ambiguous). The final Rayleigh
    eigenvalue estimates are exposed as ``spectral_embedding.last_eigenvalues``
    after each call (driver-side diagnostics, not part of the schema)."""
    nodes = graph.nodes.select("id")
    n, dense, _ = blocks._node_range(nodes)
    if n == 0:
        return nodes.select("id", F.array().cast("array<double>").alias("vec"))
    if not dense:
        raise ValueError(
            "spectral_embedding requires contiguous ids 0..n-1 (densify first)"
        )
    # the n×k basis lives driver-side (numpy QR each iteration) — the same
    # ceiling as PageRank's pull strategy, scaled by k columns. Guard
    # EXPLICITLY so auto-composition can't silently OOM the driver; beyond
    # this cap the documented fallback is the push/CSR formulation of
    # orthogonal iteration (distributed QR via tall-skinny Gram matrices).
    cap = blocks._pull_node_cap(nodes.sparkSession) // max(k, 1)
    if n > cap:
        raise ValueError(
            f"spectral_embedding: n={n} × k={k} exceeds the driver-memory "
            f"basis cap ({cap} nodes at this k — raise spark.driver.memory, "
            "reduce k, or use the push/CSR orthogonal-iteration fallback)"
        )

    edges = _sym_normalized_edges(graph)
    sc = nodes.sparkSession.sparkContext
    # raw weights: the symmetric normalization is baked into the edge weight
    path, b = blocks.open_store(edges, "pull", normalize=False)
    bad = blocks.endpoints_outside(path, n)
    if bad is not None:
        raise ValueError(
            f"spectral_embedding: edge endpoints span {bad[0]}..{bad[1]}, "
            f"outside the node ids 0..{n - 1}"
        )

    k = min(k, n)  # qr of an n×k start basis caps the rank at n
    rng = np.random.RandomState(seed)
    X, _ = np.linalg.qr(rng.standard_normal((n, k)))
    evals = np.zeros(k)
    prev_evals = np.zeros(k)
    with blocks.pinned_store(path):
        step = blocks.pull_engine(sc, path, b, n)
        for _ in range(max_iterations):
            Y = step(X)
            # Rayleigh quotients before re-orthonormalization
            evals = np.einsum("ij,ij->j", X, Y)
            X, _ = np.linalg.qr(Y)
            if np.abs(evals - prev_evals).max() < tolerance:
                break
            prev_evals = evals
    spectral_embedding.last_eigenvalues = evals.copy()
    # deterministic sign: largest-|entry| component positive per column
    for j in range(k):
        i = int(np.abs(X[:, j]).argmax())
        if X[i, j] < 0:
            X[:, j] = -X[:, j]
    import pandas as pd

    # .tolist() converts to plain Python floats — numpy.float64
    # elements crash createDataFrame on sessions without Arrow
    # enabled (a caller-supplied session may have it off)
    out = pd.DataFrame(
        {"id": np.arange(n, dtype=np.int64), "vec": X.tolist()}
    )
    return nodes.sparkSession.createDataFrame(
        out, "id long, vec array<double>"
    )
