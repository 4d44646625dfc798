"""Betweenness centrality — `algo.betweenness` (+ RA-Brandes sampling).

Reference: `algo/.../impl/betweenness/{BetweennessCentrality,
ParallelBetweennessCentrality,RABrandesBetweennessCentrality}.java`.

Brandes' dependency accumulation doesn't decompose into joins (SURVEY.md §7
hard-part 6). Spark-native form: batch the SOURCES — each Arrow task runs
exact per-source Brandes over the worker-resident CSR built DISTRIBUTED via
`blocks.open_store` (executor tasks write per-part .npy blocks to
shared storage; each worker merges them into one global CSR once, then it
is process/page-cache resident) and emits partial dependency scores;
`groupBy(id).agg(sum)` combines. The per-source kernel is level-synchronous
and numpy-vectorized (frontier-at-a-time gathers + np.add.at), no per-edge
Python. Exact when sources = all nodes; RA-Brandes sampling (`strategy:
random|degree`, `probability`) scales it down, scores scaled by n/|S| as in
the reference.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F

from linkgraph.graph import Graph
from linkgraph.algorithms import blocks


def _ensure_store(graph: Graph, direction: str, store_path: str | None) -> tuple[str, int]:
    """The CSR block store of the graph's ``direction`` edges, opened
    through ``blocks.open_store``. Returns (path, n).

    On a cluster `store_path` must live on shared storage (same contract as
    PageRank's block_store); without it the store comes from the plan-keyed
    cache, so repeat runs on the same logical graph — walker batches, bench
    medians, betweenness re-runs — skip the rebuild. The manifest records
    ``direction`` and the node count ``n``: a reused store built for
    another direction or node range would silently yield wrong
    centralities, so open_store rejects it.
    """
    n = int(graph.nodes.agg(F.max("id")).first()[0]) + 1
    edges = (
        graph.undirected_edges() if direction == "BOTH" else graph.edges
    ).select("src", "dst", "weight")
    path, _ = blocks.open_store(edges, "push", store_path, direction=direction, n=n)
    return path, n


def _materialized_on(path: str, df: DataFrame) -> DataFrame:
    """``df``, a plan whose tasks read the store at ``path``, computed
    while that store is pinned. The result is a localCheckpoint, so it
    stays readable after the store cache evicts and deletes the store."""
    with blocks.pinned_store(path):
        return df.localCheckpoint(eager=True)


def _neighbors_flat(indptr, indices, frontier):
    """Vectorized adjacency gather: → (neighbors, parents) flat arrays."""
    starts = indptr[frontier]
    counts = indptr[frontier + 1] - starts
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    offs = np.concatenate(([0], np.cumsum(counts)[:-1]))
    flat = np.repeat(starts - offs, counts) + np.arange(total)
    return indices[flat], np.repeat(frontier, counts)


def _brandes_single(indptr, indices, s: int, n: int, delta_out: np.ndarray):
    """One source's Brandes pass; accumulates dependencies into delta_out."""
    dist = np.full(n, -1, np.int64)
    sigma = np.zeros(n)
    dist[s] = 0
    sigma[s] = 1.0
    frontier = np.array([s], np.int64)
    levels = [frontier]
    d = 0
    while frontier.size:
        nbrs, par = _neighbors_flat(indptr, indices, frontier)
        new_nodes = np.unique(nbrs[dist[nbrs] == -1])
        dist[new_nodes] = d + 1
        eq = dist[nbrs] == d + 1
        np.add.at(sigma, nbrs[eq], sigma[par[eq]])
        frontier = new_nodes
        if frontier.size:
            levels.append(frontier)
        d += 1
    delta = np.zeros(n)
    for li in range(len(levels) - 2, -1, -1):
        us = levels[li]
        nbrs, par = _neighbors_flat(indptr, indices, us)
        m = dist[nbrs] == li + 1
        if m.any():
            contrib = sigma[par[m]] / sigma[nbrs[m]] * (1.0 + delta[nbrs[m]])
            np.add.at(delta, par[m], contrib)
    delta[s] = 0.0
    delta_out += delta


def _brandes_batch(path: str, n: int):
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        indptr, indices, _ = blocks.load_global_csr(path, n)
        for pdf in batches:
            dep_total = np.zeros(n)
            for s in pdf["source"].to_numpy(np.int64):
                _brandes_single(indptr, indices, int(s), n, dep_total)
            nz = np.nonzero(dep_total)[0]
            yield pd.DataFrame({"id": nz.astype(np.int64), "partial": dep_total[nz]})

    return run


def betweenness_centrality(
    graph: Graph,
    direction: str = "OUTGOING",
    probability: float | None = None,
    strategy: str = "random",
    seed: int = 42,
    store_path: str | None = None,
) -> DataFrame:
    """→ (id, centrality). Exact Brandes when probability is None, else
    RA-Brandes sampled pivots with n/|S| scaling."""
    path, n_arr = _ensure_store(graph, direction, store_path)
    sources = graph.nodes.select(F.col("id").alias("source"))
    n = sources.count()
    scale = 1.0
    if probability is not None:
        if strategy == "degree":
            deg = graph.degrees(direction="BOTH").withColumnRenamed("id", "source")
            mx = deg.agg(F.max("degree")).first()[0] or 1.0
            sources = (
                sources.join(deg, "source")
                .withColumn("_r", F.rand(seed))
                .filter(F.col("_r") < probability * (F.col("degree") / mx) * 2)
                .select("source")
            )
        else:
            sources = sources.sample(probability, seed=seed)
        n_sampled = sources.count()
        scale = n / max(n_sampled, 1)
    spark = graph.nodes.sparkSession
    b = spark.sparkContext.defaultParallelism
    partials = sources.repartition(b).mapInPandas(
        _brandes_batch(path, n_arr), schema="id long, partial double"
    )
    dep = partials.groupBy("id").agg(F.sum("partial").alias("dep"))
    half = 0.5 if direction == "BOTH" else 1.0
    out = (
        graph.nodes.select("id")
        .join(dep, "id", "left")
        .select(
            "id",
            (F.coalesce("dep", F.lit(0.0)) * F.lit(scale) * F.lit(half)).alias(
                "centrality"
            ),
        )
    )
    return _materialized_on(path, out)
