"""k-truss decomposition — maximal subgraph where every edge closes
≥ k−2 triangles inside the subgraph.

Cohen 2008 ("Trusses: cohesive subgraphs for social network analysis",
NSA technical report). Engine-added alongside k-core (reference-adjacent
anchor: `algo/.../impl/triangle/TriangleCountBase.java` computes the
per-edge support primitive; the truss peel is its fixpoint closure —
GDS-family systems ship it as the standard cohesion ladder step between
triangles and communities).

Synchronous peel: each round re-enumerates triangles over the SURVIVING
edge set with degree-oriented wedges (pivot on the min-degree corner ⇒
Σ min-degree ≈ m·√m worst case, not Σ deg²), attributes each triangle to
its three edges, and drops every edge with support < k−2. Deletions are
monotone, so the fixpoint is reached in ≤ m rounds (in practice a
handful) and running extra rounds is a no-op — which is what makes the
fixed-round SQL oracle in queries.py exact.

Two physical plans, picked by data size (the union-find / pull-engine
crossover): at or below ``blocks.DRIVER_EDGE_THRESHOLD`` raw ``(src,
dst)`` edge rows the projection is collected once with no shuffle and
canonicalized in numpy (``blocks.canonical_pairs``; the raw rows bound the
canonical edges, so on input with many duplicate edges this gate is more
conservative than one on the canonical table), and every round is
``triangles.triangle_kernel`` plus one ``np.bincount`` over the surviving
edges; above it each round is one distributed triangle count — two
shuffle joins + one map-side-combining groupBy, lineage truncated per
round via localCheckpoint, the same contract as WCC/LPA/k-core. Both run
the same rounds and report the same ``rounds``/``did_converge``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from linkgraph.algorithms import blocks
from linkgraph.algorithms.triangles import _triangles, triangle_kernel
from linkgraph.graph import Graph


def _support(ce: DataFrame) -> DataFrame:
    """(src, dst, support): triangles through each surviving edge."""
    tri = _triangles(ce)
    sides = (
        tri.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionByName(tri.select(F.col("a").alias("src"), F.col("c").alias("dst")))
        .unionByName(tri.select(F.col("b").alias("src"), F.col("c").alias("dst")))
    )
    sup = sides.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("support"))
    return ce.join(sup, ["src", "dst"], "left").select(
        "src", "dst", F.coalesce("support", F.lit(0)).cast("long").alias("support")
    )


def _edge_support(src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """Triangles through each canonical edge."""
    return np.bincount(triangle_kernel(src, dst)[1].ravel(), minlength=len(src))


def _k_truss_local(graph: Graph, k: int, max_rounds: int) -> DataFrame | None:
    """The synchronous peel on the driver; None above the crossover."""
    pdf = blocks.collect_if_small(graph.edges.select("src", "dst").dropna())
    if pdf is None:
        return None
    src, dst, _ = blocks.canonical_pairs(
        pdf["src"].to_numpy(np.int64), pdf["dst"].to_numpy(np.int64)
    )
    rounds, converged = 0, False
    for _ in range(max_rounds):
        sup = _edge_support(src, dst)
        rounds += 1
        keep = sup >= k - 2
        if keep.all():
            converged = True
            break
        src, dst = src[keep], dst[keep]
    if not converged:  # as below: support inside the returned subgraph
        sup = _edge_support(src, dst)
    out = graph.nodes.sparkSession.createDataFrame(
        pd.DataFrame({"src": src, "dst": dst, "support": sup}),
        "src long, dst long, support long",
    )
    out.rounds = rounds  # type: ignore[attr-defined]
    out.iterations = rounds  # type: ignore[attr-defined]
    out.did_converge = converged  # type: ignore[attr-defined]
    return out


def k_truss(graph: Graph, k: int = 4, max_rounds: int = 30) -> DataFrame:
    """→ (src, dst, support): the canonical edges of the k-truss, with each
    edge's triangle support inside the truss. k ≥ 3 (k−2 ≥ 1 triangle per
    edge); k=3 keeps every edge in at least one triangle."""
    if k < 3:
        raise ValueError("k-truss requires k >= 3")
    local = _k_truss_local(graph, k, max_rounds)
    if local is not None:
        return local
    ce = graph.canonical_edges().select("src", "dst").localCheckpoint(eager=True)
    rounds, converged = 0, False
    sup = None
    for _ in range(max_rounds):
        # one eager checkpoint per round (the support table); the filtered
        # edge view derives from it lazily, so the plan stays one layer deep
        sup = _support(ce).localCheckpoint(eager=True)
        rounds += 1
        any_dropped = (
            sup.filter(F.col("support") < k - 2).limit(1).count() > 0
        )
        ce = sup.filter(F.col("support") >= k - 2).select("src", "dst")
        if not any_dropped:
            converged = True
            break
    # converged: sup's rows ARE the truss with final supports; otherwise
    # (max_rounds hit mid-peel) recompute support on the surviving set so
    # the reported support matches the returned subgraph
    out = sup.filter(F.col("support") >= k - 2) if converged else _support(ce)
    out.rounds = rounds  # type: ignore[attr-defined]
    out.iterations = rounds  # type: ignore[attr-defined]
    out.did_converge = converged  # type: ignore[attr-defined]
    return out
