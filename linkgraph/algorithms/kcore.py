"""k-core decomposition — engine-added (the 3.5.x reference lacks it; the
successor GDS library ships `gds.kcore`, same semantics).

Two operators, both pure DataFrame fixpoints:

* ``k_core(graph, k)`` — the maximal subgraph where every node has
  undirected degree ≥ k, by iterative peeling: drop nodes below k,
  recompute degrees over the survivors, repeat to fixpoint. Round count ≤
  peel depth. Two physical plans, picked by data size (the union-find /
  pull-engine crossover): when the undirected edges and the node table
  each fit ``blocks.DRIVER_EDGE_THRESHOLD`` rows, both are collected once
  and every round is one ``np.bincount`` over the edges between survivors;
  otherwise every round is one degree aggregation + one semi-join. Both
  run the same rounds and report the same ``iterations``/``did_converge``.
* ``core_numbers(graph)`` — every node's coreness via the iterated
  h-index (Lü et al., Nature Communications 2016): start from the degree,
  repeatedly replace each node's estimate with the h-index of its
  neighbors' estimates (the largest h such that ≥ h neighbors have
  estimate ≥ h); the monotone fixpoint IS the core number. The h-index is
  computed from a per-node (estimate, count) histogram — map-side-combined
  groupBy, then one JVM array fold over the desc-sorted histogram
  (``h = max_t min(t, #nbrs ≥ t)``) — no window sort, no per-node UDF.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from linkgraph.algorithms import blocks
from linkgraph.graph import Graph


def _und_edges(graph: Graph) -> DataFrame:
    return graph.undirected_edges().filter(F.col("src") != F.col("dst")).select(
        "src", "dst"
    )


def _k_core_local(graph: Graph, k: int, max_rounds: int) -> DataFrame | None:
    """The synchronous peel on the driver; None above the crossover."""
    ep = blocks.collect_if_small(_und_edges(graph))
    if ep is None:
        return None
    node_pd = blocks.collect_if_small(graph.nodes.select("id"))
    if node_pd is None:
        return None
    node_ids = node_pd["id"].to_numpy(np.int64)
    ids = np.unique(node_ids)
    n = len(ids)
    es, ed, ok = blocks.index_edges(
        ids, ep["src"].to_numpy(np.int64), ep["dst"].to_numpy(np.int64)
    )
    es, ed = es[ok], ed[ok]
    active = np.ones(n, dtype=bool)
    n_active = n
    rounds, converged = 0, False
    while rounds < max_rounds:
        rounds += 1
        m = active[es] & active[ed]
        keep = active & (np.bincount(es[m], minlength=n) >= k)
        n_keep = int(keep.sum())
        if n_keep == n_active:
            converged = True
            break
        active, n_active = keep, n_keep
    out = graph.nodes.sparkSession.createDataFrame(
        pd.DataFrame({"id": node_ids, "in_core": active[np.searchsorted(ids, node_ids)]}),
        "id long, in_core boolean",
    )
    out.iterations = rounds
    out.did_converge = converged
    return out


def k_core(graph: Graph, k: int, max_rounds: int = 10_000) -> DataFrame:
    """→ (id, in_core: boolean) over ALL nodes; the k-core = in_core rows."""
    local = _k_core_local(graph, k, max_rounds)
    if local is not None:
        return local
    edges = _und_edges(graph).persist()
    active = graph.nodes.select("id").localCheckpoint(eager=True)
    n_active = active.count()
    rounds = 0
    converged = False
    while rounds < max_rounds:
        rounds += 1
        deg = (
            edges.join(active.withColumnRenamed("id", "src"), "src")
            .join(active.withColumnRenamed("id", "dst"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = (
            active.join(deg, "id", "left")
            .filter(F.coalesce("deg", F.lit(0)) >= k)
            .select("id")
            .localCheckpoint(eager=True)
        )
        n_keep = keep.count()  # one job/round; prior count carried over
        if n_keep == n_active:
            converged = True
            break
        active, n_active = keep, n_keep
    edges.unpersist()
    survivors = active.withColumn("in_core", F.lit(True))
    out = (
        graph.nodes.select("id")
        .join(survivors, "id", "left")
        .select("id", F.coalesce("in_core", F.lit(False)).alias("in_core"))
    )
    out.iterations = rounds
    out.did_converge = converged
    return out


def core_numbers(graph: Graph, max_rounds: int = 100) -> DataFrame:
    """→ (id, core: long) — coreness per node (0 for isolated nodes)."""
    edges = _und_edges(graph).persist()
    est = (
        edges.groupBy(F.col("src").alias("id"))
        .agg(F.count(F.lit(1)).alias("est"))
        .localCheckpoint(eager=True)
    )
    rounds = 0
    converged = False
    while rounds < max_rounds:
        rounds += 1
        nbr = edges.join(
            est.select(F.col("id").alias("dst"), F.col("est").alias("nbr_est")),
            "dst",
        ).select(F.col("src").alias("id"), "nbr_est")
        # histogram h-index, no window sort: shrink neighbors to (est, cnt)
        # pairs FIRST (map-side combine — shuffle volume = distinct est
        # values per node, not degree), then h = max_t min(t, #nbrs ≥ t)
        # over the desc-sorted value histogram via one JVM array fold.
        # (The old Window.partitionBy(id) row_number sorted the full edge
        # list every round — r3 VERDICT task 9.)
        hist = nbr.groupBy("id", "nbr_est").agg(F.count(F.lit(1)).alias("cnt"))
        h = (
            hist.groupBy("id")
            .agg(
                F.sort_array(
                    F.collect_list(F.struct("nbr_est", "cnt")), asc=False
                ).alias("hs")
            )
            .select(
                "id",
                F.aggregate(
                    "hs",
                    F.struct(
                        F.lit(0).cast("long").alias("run"),
                        F.lit(0).cast("long").alias("best"),
                    ),
                    lambda acc, s: F.struct(
                        (acc["run"] + s["cnt"]).alias("run"),
                        F.greatest(
                            acc["best"],
                            F.least(s["nbr_est"], acc["run"] + s["cnt"]),
                        ).alias("best"),
                    ),
                    lambda acc: acc["best"],
                ).alias("h"),
            )
        )
        new_est = (
            est.join(h, "id", "left")
            .select("id", F.least("est", F.coalesce("h", F.lit(0))).alias("est"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_est.alias("n")
            .join(est.alias("o"), "id")
            .filter(F.col("n.est") != F.col("o.est"))
            .limit(1)
            .count()
        )
        est = new_est
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    out = (
        graph.nodes.select("id")
        .join(est, "id", "left")
        .select("id", F.coalesce("est", F.lit(0)).cast("long").alias("core"))
    )
    out.iterations = rounds
    out.did_converge = converged
    return out
