"""Triangle counting — `algo.triangleCount` / `algo.triangle.stream`.

Reference: `algo/src/main/java/org/neo4j/graphalgo/TriangleProc.java`,
`algo/.../impl/triangle/{TriangleStream,TriangleCountQueue,
IntersectingTriangleCount}.java`. There: forward-ordered adjacency
intersection per edge in shared memory. Here, two physical plans for one
algorithm, picked by data size (the union-find / pull-engine crossover):

* at or below ``blocks.DRIVER_EDGE_THRESHOLD`` canonical edges, the edge
  list is collected (one LIMIT-bounded job) and ``triangle_kernel`` —
  vectorised numpy over the degree-oriented CSR, wedges closed by a
  ``searchsorted`` lookup on sorted int64 edge keys — enumerates every
  triangle with the ids of its corners and the indices of its edges;
* above it, the classic two-shuffle self-join on canonical (src < dst)
  edges —

    wedges  = e(a,b) ⋈ e(a,c) on a, with b < c
    closed  = wedges ⋈ e(b,c)            → each triangle found exactly once

Both plans count over the canonical edges alone (endpoints need not be in
``graph.nodes``), so they agree exactly. Per-node counts attribute each
triangle to all three corners; local clustering coefficient =
2·T(v) / (deg(v)·(deg(v)−1)) on the undirected deduped degree, exactly the
reference's formula; global count = Σ T(v) / 3. ``ktruss`` reuses the
kernel for its per-edge support.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from linkgraph.algorithms import blocks
from linkgraph.graph import Graph

# Wedges enumerated per kernel chunk: bounds the transient int64 arrays
# (a handful of this length, ~32 MB each) however skewed the graph is.
WEDGE_CHUNK = 1 << 22


def triangle_kernel(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Every triangle of a canonical edge list (src < dst, no duplicates).

    → (nodes, edges): two (t, 3) int64 arrays, one row per triangle — the
    ids of its three corners and the indices (into ``src``/``dst``) of its
    three edges. Edges are oriented from the lower to the higher
    (degree, id) endpoint, so a pivot's out-degree is at most √(2m); the
    wedges at each pivot are closed by one ``searchsorted`` on the sorted
    int64 keys rank(lo)·n + rank(hi). Each triangle is found exactly once,
    at its lowest-ranked corner. Wedges are enumerated in chunks of whole
    pivot ranges of at most WEDGE_CHUNK wedges (one pivot may exceed it).
    """
    src = np.asarray(src, dtype=np.int64)
    dst = np.asarray(dst, dtype=np.int64)
    m = len(src)
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    n = len(ids)
    deg = np.bincount(inv, minlength=n)
    # node indices are id-ordered, so a stable sort by degree ranks by (deg, id)
    by_rank = np.argsort(deg, kind="stable")
    rank = np.empty(n, dtype=np.int64)
    rank[by_rank] = np.arange(n)
    ru, rv = rank[inv[:m]], rank[inv[m:]]
    lo, hi = np.minimum(ru, rv), np.maximum(ru, rv)
    keys = lo * n + hi
    eorder = np.argsort(keys)
    keys, lo, hi = keys[eorder], lo[eorder], hi[eorder]
    indptr = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(np.bincount(lo, minlength=n), out=indptr[1:])
    dplus = np.diff(indptr)
    cum_wedges = np.cumsum(dplus * (dplus - 1) // 2)
    total = int(cum_wedges[-1]) if n else 0
    # per CSR position: how many later positions share its pivot
    later = indptr[lo + 1] - np.arange(m) - 1
    tri_nodes, tri_edges = [], []
    p0, done = 0, 0
    while done < total:
        p1 = max(p0 + 1, int(np.searchsorted(cum_wedges, done + WEDGE_CHUNK, side="right")))
        j = np.arange(indptr[p0], indptr[p1])
        cnt = later[j]
        first = np.repeat(j, cnt)
        # second = first + 1 + offset of the wedge inside first's run
        second = np.arange(len(first)) + np.repeat(j + 1 - (np.cumsum(cnt) - cnt), cnt)
        q = hi[first] * n + hi[second]
        pos = np.minimum(np.searchsorted(keys, q), m - 1)
        hit = keys[pos] == q
        first, second, pos = first[hit], second[hit], pos[hit]
        tri_nodes.append(np.stack([lo[first], hi[first], hi[second]], axis=1))
        tri_edges.append(np.stack([first, second, pos], axis=1))
        done = int(cum_wedges[p1 - 1])
        p0 = p1
    if not tri_nodes:
        return np.empty((0, 3), dtype=np.int64), np.empty((0, 3), dtype=np.int64)
    return ids[by_rank[np.concatenate(tri_nodes)]], eorder[np.concatenate(tri_edges)]


def _triangles_local(graph: Graph) -> tuple[np.ndarray, np.ndarray, np.ndarray] | None:
    """(src, dst, triangle corner ids) of the canonical edges, by the numpy
    kernel; None above the driver crossover."""
    pdf = blocks.collect_if_small(graph.canonical_edges().select("src", "dst"))
    if pdf is None:
        return None
    src = pdf["src"].to_numpy(np.int64)
    dst = pdf["dst"].to_numpy(np.int64)
    return src, dst, triangle_kernel(src, dst)[0]


def _triangles(graph: Graph) -> DataFrame:
    """All triangles as (a, b, c) with a < b < c, each exactly once.

    Edges are oriented by DEGREE order (lower-(deg,id) endpoint → higher),
    and wedges pivot on the lower-degree corner: a hub of degree d
    contributes wedges only from its (few) higher-key out-neighbors, so
    wedge volume is bounded by Σ min-degree ≈ m·√m worst case instead of
    Σ deg² — the standard skew mitigation for the self-join formulation
    (id-ordering makes a small-id hub a deg² wedge bomb).
    """
    ce = graph.canonical_edges().select("src", "dst")
    deg = (
        ce.select(F.col("src").alias("id"))
        .unionByName(ce.select(F.col("dst").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e = (
        ce.join(deg.select(F.col("id").alias("src"), F.col("d").alias("ds")), "src")
        .join(deg.select(F.col("id").alias("dst"), F.col("d").alias("dd")), "dst")
    )
    ks = F.struct(F.col("ds").alias("d"), F.col("src").alias("i"))
    kd = F.struct(F.col("dd").alias("d"), F.col("dst").alias("i"))
    oriented = e.select(
        F.when(ks < kd, F.col("src")).otherwise(F.col("dst")).alias("u"),
        F.when(ks < kd, F.col("dst")).otherwise(F.col("src")).alias("v"),
        F.when(ks < kd, kd).otherwise(ks).alias("kv"),
    ).persist()
    o1 = oriented.select("u", F.col("v").alias("b"), F.col("kv").alias("kb"))
    o2 = oriented.select(F.col("u").alias("u2"), F.col("v").alias("c"), F.col("kv").alias("kc"))
    wedges = o1.join(o2, (o1.u == o2.u2) & (o1.kb < o2.kc)).select("u", "b", "c")
    o3 = oriented.select(F.col("u").alias("b2"), F.col("v").alias("c2"))
    tri = wedges.join(o3, (wedges.b == o3.b2) & (wedges.c == o3.c2))
    srt = F.array_sort(F.array("u", "b", "c"))
    return tri.select(
        srt.getItem(0).alias("a"), srt.getItem(1).alias("b"), srt.getItem(2).alias("c")
    )


def triangle_stream(graph: Graph) -> DataFrame:
    """`algo.triangle.stream` → (a, b, c) node-id triples, a < b < c."""
    local = _triangles_local(graph)
    if local is None:
        return _triangles(graph)
    tri = np.sort(local[2], axis=1)
    return graph.nodes.sparkSession.createDataFrame(
        pd.DataFrame(tri, columns=["a", "b", "c"]), "a long, b long, c long"
    )


def triangle_count(graph: Graph) -> DataFrame:
    """`algo.triangleCount.stream` → (id, triangles, coefficient)."""
    local = _triangles_local(graph)
    if local is None:
        tri = _triangles(graph)
        corners = (
            tri.select(F.col("a").alias("id"))
            .unionByName(tri.select(F.col("b").alias("id")))
            .unionByName(tri.select(F.col("c").alias("id")))
        )
        per_node = corners.groupBy("id").agg(F.count(F.lit(1)).alias("triangles"))
        ce = graph.canonical_edges()
        deg = (
            ce.select(F.col("src").alias("id"))
            .unionByName(ce.select(F.col("dst").alias("id")))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
    else:
        src, dst, tri = local
        ends, d = np.unique(np.concatenate([src, dst]), return_counts=True)
        t = np.bincount(np.searchsorted(ends, tri.ravel()), minlength=len(ends))
        stats = graph.nodes.sparkSession.createDataFrame(
            pd.DataFrame({"id": ends, "triangles": t, "deg": d}),
            "id long, triangles long, deg long",
        )
        per_node, deg = stats.select("id", "triangles"), stats.select("id", "deg")
    return (
        graph.nodes.select("id")
        .join(per_node, "id", "left")
        .join(deg, "id", "left")
        .select(
            "id",
            F.coalesce("triangles", F.lit(0)).alias("triangles"),
            F.when(
                F.coalesce(F.col("deg"), F.lit(0)) >= 2,
                2.0
                * F.coalesce("triangles", F.lit(0))
                / (F.col("deg") * (F.col("deg") - 1)),
            )
            .otherwise(0.0)
            .alias("coefficient"),
        )
    )


def triangle_count_global(graph: Graph) -> DataFrame:
    """Write-mode summary: (triangleCount, averageClusteringCoefficient)."""
    per_node = triangle_count(graph)
    return per_node.agg(
        (F.sum("triangles") / 3).cast("long").alias("triangleCount"),
        F.avg("coefficient").alias("averageClusteringCoefficient"),
    )


def balanced_triads(graph: Graph) -> DataFrame:
    """`algo.balancedTriads` — signed-triangle balance per node.

    Reference: `algo/.../impl/triangle/BalancedTriads.java`. A triad is
    balanced iff the product of its three edge-weight signs is positive.
    → (id, balanced, unbalanced).
    """
    ce = (
        graph.canonical_edges()
        .select("src", "dst", F.signum("weight").alias("sign"))
        .persist()
    )
    e1 = ce.select(F.col("src").alias("a"), F.col("dst").alias("b"), F.col("sign").alias("s1"))
    e2 = ce.select(F.col("src").alias("a2"), F.col("dst").alias("c"), F.col("sign").alias("s2"))
    wedges = e1.join(e2, (e1.a == e2.a2) & (e1.b < e2.c)).select("a", "b", "c", "s1", "s2")
    e3 = ce.select(F.col("src").alias("b2"), F.col("dst").alias("c2"), F.col("sign").alias("s3"))
    tri = wedges.join(e3, (wedges.b == e3.b2) & (wedges.c == e3.c2)).select(
        "a", "b", "c", (F.col("s1") * F.col("s2") * F.col("s3") > 0).alias("balanced")
    )
    corners = (
        tri.select(F.col("a").alias("id"), "balanced")
        .unionByName(tri.select(F.col("b").alias("id"), "balanced"))
        .unionByName(tri.select(F.col("c").alias("id"), "balanced"))
    )
    agg = corners.groupBy("id").agg(
        F.sum(F.col("balanced").cast("long")).alias("balanced"),
        F.sum((~F.col("balanced")).cast("long")).alias("unbalanced"),
    )
    return (
        graph.nodes.select("id")
        .join(agg, "id", "left")
        .select(
            "id",
            F.coalesce("balanced", F.lit(0)).alias("balanced"),
            F.coalesce("unbalanced", F.lit(0)).alias("unbalanced"),
        )
    )
