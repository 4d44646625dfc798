"""Batch personalized PageRank — one PPR vector per seed, all seeds in
one superstep loop.

Reference analogue: ``algo.pageRank``'s ``sourceNodes`` personalization
(src/main/java/org/neo4j/graphalgo/PageRankProc.java plus
core PageRank's personalized variant) runs ONE teleport set per call.
This batches S independent single-seed runs into one loop — the shape a
recommendation / node-similarity pipeline needs (PPR per user, top-k
neighbors per seed) where re-running the whole iteration per seed would
multiply the edge-scan cost by S.

Semantics (deterministic, SQL-replayable; Haveliwala 2002
topic-sensitive PageRank with a point teleport):

    r_0(v | s)     = 1[v = s]
    r_{k+1}(v | s) = (1-d) * 1[v = s] + d * sum_{u->v} r_k(u | s) / outdeg(u)

Dangling mass is NOT redistributed (the strict teleport-discount form
used in local-clustering literature, e.g. Andersen-Chung-Lang push
methods); per-seed scores are therefore a constant renormalization away
from the redistributing variant and rank-order identical per seed.

Scale shape: each superstep is one edges ⋈ shares shuffle plus one
map-side-combining groupBy(dst) — identical to pagerank._join_power_loop
— but carries S rank doubles per row instead of 1, so S seeds cost ONE
pass over the edges, not S passes. All S columns are plain doubles in
whole-stage codegen (no arrays, no UDFs); lineage is truncated with an
eager localCheckpoint per superstep, and the superseded checkpoint is
unpersisted once its successor materializes. S is a per-batch constant
(tens, not thousands — column width, shuffle row width, and the
contribs row stay O(S)); larger seed sets run in chunks of S.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from linkgraph.graph import Graph


def ppr_batch(
    graph: Graph,
    seeds: list[int],
    damping: float = 0.85,
    iterations: int = 10,
) -> DataFrame:
    """→ (id, r0 .. r{S-1}) — personalized PageRank score of every node
    for each of the S seeds after exactly ``iterations`` supersteps."""
    if not seeds:
        raise ValueError("ppr_batch needs at least one seed node")
    d = float(damping)
    nodes = graph.nodes.select("id")
    edges = graph.edges.select("src", "dst")
    out = _ppr_batch_pull(graph, seeds, d, int(iterations))
    if out is not None:
        return out
    outdeg = edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).cast("double").alias("wsum")
    )
    rcols = [f"r{i}" for i in range(len(seeds))]
    ind = {
        c: F.when(F.col("id") == int(s), 1.0).otherwise(0.0)
        for c, s in zip(rcols, seeds)
    }
    ranks = nodes.select(
        "id", *[ind[c].alias(c) for c in rcols]
    ).localCheckpoint(eager=True)
    prev = ranks
    for _ in range(int(iterations)):
        shares = ranks.join(outdeg, "id").select(
            "id", *[(F.col(c) / F.col("wsum")).alias(c) for c in rcols]
        )
        contribs = (
            edges.join(shares, edges.src == shares.id)
            .groupBy("dst")
            .agg(*[F.sum(c).alias(c) for c in rcols])
        )
        ranks = (
            nodes.join(contribs, nodes.id == contribs.dst, "left")
            .select(
                "id",
                *[
                    (
                        (1.0 - d) * ind[c]
                        + d * F.coalesce(F.col(c), F.lit(0.0))
                    ).alias(c)
                    for c in rcols
                ],
            )
            .localCheckpoint(eager=True)
        )
        prev.unpersist()
        prev = ranks
    return ranks


def _ppr_batch_pull(graph: Graph, seeds, d: float, iterations: int):
    """CSC-block pull execution of the seed batch (r6): when node ids are
    contiguous 0..n-1, all S PPR vectors advance as ONE n×S numpy matrix
    through ``blocks.pull_engine`` — per superstep a driver-local gather, or
    above the crossover a single zero-shuffle ``pull_superstep`` job,
    instead of the join loop's edges⋈shares shuffle + groupBy + left-join
    + localCheckpoint. Identical arithmetic (w_norm = 1/outdeg baked at
    store build, no dangling redistribution); the store comes from
    ``blocks.open_store``, so a repeat batch on the same edges reuses it,
    and the supersteps run inside its pin. Returns None when the graph
    does not qualify for the pull engine (blocks._pull_size, or an edge
    endpoint that is no node id): callers fall back to the join loop."""
    import numpy as np
    import pandas as pd

    from linkgraph.algorithms import blocks

    n, m = blocks._pull_size(graph.nodes, graph.edges)
    if n is None:
        return None
    edges_w = graph.edges.select("src", "dst").withColumn("weight", F.lit(1.0))
    sc = edges_w.sparkSession.sparkContext
    path, b = blocks.pull_store(edges_w, m)
    if blocks.endpoints_outside(path, n) is not None:
        return None
    S = len(seeds)
    ind = np.zeros((n, S))
    for j, s in enumerate(seeds):
        # a seed that is no node id keeps an all-zero column, as in the
        # join loop, whose indicator matches no node row
        if 0 <= int(s) < n:
            ind[int(s), j] = 1.0
    P = ind.copy()
    with blocks.pinned_store(path):
        pull_step = blocks.pull_engine(sc, path, b, n)
        for _ in range(iterations):
            C = pull_step(P)
            P = (1.0 - d) * ind + d * C
    pdf = pd.DataFrame({"id": np.arange(n)})
    for j in range(S):
        pdf[f"r{j}"] = P[:, j]
    return edges_w.sparkSession.createDataFrame(pdf)


def ppr_topk(
    graph: Graph,
    seeds: list[int],
    k: int = 10,
    damping: float = 0.85,
    iterations: int = 10,
    ndigits: int = 5,
) -> DataFrame:
    """→ (seed, id, score, rk) — the top-k nodes per seed by personalized
    PageRank, ordered per seed by (score desc, id asc). Scores are
    rounded BEFORE ranking so the cut is float-stable across engines."""
    wide = ppr_batch(graph, seeds, damping=damping, iterations=iterations)
    pairs = F.array(
        *[
            F.struct(
                F.lit(int(s)).cast("long").alias("seed"),
                F.round(F.col(f"r{i}"), ndigits).alias("score"),
            )
            for i, s in enumerate(seeds)
        ]
    )
    long = wide.select("id", F.explode(pairs).alias("p")).select(
        F.col("p.seed").alias("seed"), "id", F.col("p.score").alias("score")
    )
    w = Window.partitionBy("seed").orderBy(F.desc("score"), F.asc("id"))
    return (
        long.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= int(k))
        .select("seed", "id", "score", "rk")
    )
