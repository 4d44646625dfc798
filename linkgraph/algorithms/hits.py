"""HITS (Hyperlink-Induced Topic Search) — hubs & authorities.

Kleinberg 1999 ("Authoritative sources in a hyperlinked environment",
JACM 46(5)). Beyond the reference's surface (reference-adjacent anchor:
`algo/src/main/java/org/neo4j/graphalgo/PageRankProc.java` — same
gather-normalize iteration family); the GDS successor ships `gds.hits`.
For a web-scale link graph, hubs/authorities is the canonical companion
to PageRank, so it is first-class here.

Synchronous power iteration with **L1 normalization** (scores sum to n,
matching PageRank's scale convention), deterministic and partition-count
invariant:

    auth(v) = norm( Σ_{u→v} hub(u) )
    hub(u)  = norm( Σ_{u→v} auth(v) )

Because the update is LINEAR, per-half-step normalization is pure
scaling and commutes with the iteration: we run the loop unnormalized
and L1-scale only at the end (and every RESCALE_EVERY iterations to stay
far from double overflow — growth per iteration is bounded by
λ_max(A·Aᵀ)). The result is identical to the per-step-normalized
fixpoint up to float rounding; the DuckDB oracle in queries.py
normalizes every half-step and the two agree to ≥9 significant digits.

Scale shape: each half-step is one `edges ⋈ scores` (shuffle keyed on
the edge's own partition key) + one map-side-combining `groupBy().sum()`
— identical plan shape to pagerank._join_power_loop, so the same
1000-executor reasoning applies (partial aggregation bounds hot-key
fan-in; AQE handles residual skew). One eager localCheckpoint per
iteration (on the hub vector only — the authority half lives inside the
same bounded plan), no scalar jobs in the steady loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from linkgraph.graph import Graph

RESCALE_EVERY = 8  # keep unnormalized magnitudes ≪ double overflow


def hits(
    graph: Graph,
    max_iterations: int = 20,
    tolerance: float | None = None,
) -> DataFrame:
    """→ (id, hub, authority) after `max_iterations` synchronous rounds
    (or earlier if the L1 delta of the normalized hub vector drops below
    `tolerance`). The authority column is the one computed in the final
    round (from the previous hub), matching the textbook sequencing.

    Isolated nodes (no in- or out-edges) keep score 0, matching the
    linear-algebra definition on the adjacency matrix over the node set.
    """
    out = _hits_pull(graph, max_iterations, tolerance)
    if out is not None:
        return out
    edges = graph.edges.select("src", "dst").persist()
    nodes = graph.nodes.select("id")
    n = nodes.count()

    hub = nodes.select("id", F.lit(1.0).alias("hub")).localCheckpoint(eager=True)
    auth = nodes.select("id", F.lit(0.0).alias("authority"))
    prev_norm = None
    iterations, converged = 0, False
    for step in range(max_iterations):
        araw = (
            edges.join(hub, edges.src == hub.id)
            .groupBy("dst")
            .agg(F.sum("hub").alias("s"))
        )
        auth = nodes.join(araw, nodes.id == araw.dst, "left").select(
            "id", F.coalesce("s", F.lit(0.0)).alias("authority")
        )
        hraw = (
            edges.join(auth, edges.dst == auth.id)
            .groupBy("src")
            .agg(F.sum("authority").alias("s"))
        )
        hub_new = nodes.join(hraw, nodes.id == hraw.src, "left").select(
            "id", F.coalesce("s", F.lit(0.0)).alias("hub")
        )
        rescale = (step + 1) % RESCALE_EVERY == 0
        if rescale or tolerance is not None:
            # one extra scalar job: L1-rescale hub (and auth, so the pair
            # stays consistently scaled) to sum = n
            hub_new, auth = _l1_pair(nodes, hub_new, auth, n)
        hub_new = hub_new.localCheckpoint(eager=True)
        iterations = step + 1
        if tolerance is not None:
            prev = hub.select("id", F.col("hub").alias("_prev_hub"))
            delta = (
                hub_new.join(prev, "id")
                .agg(F.sum(F.abs(F.col("hub") - F.col("_prev_hub"))).alias("d"))
                .collect()[0]["d"]
            )
            # the first compared round is vs. the uniform start; only a
            # genuine normalized-to-normalized delta counts
            if prev_norm and delta is not None and delta < tolerance * n:
                converged = True
            prev_norm = True
        hub = hub_new
        if converged:
            break
    out = hub.join(auth, "id", "left").select(
        "id", "hub", F.coalesce("authority", F.lit(0.0)).alias("authority")
    )
    out = _final_normalize(out, n).localCheckpoint(eager=True)
    edges.unpersist()
    out.iterations = iterations  # type: ignore[attr-defined]
    out.did_converge = converged  # type: ignore[attr-defined]
    return out


def _hits_pull(graph: Graph, max_iterations: int, tolerance: float | None):
    """CSC-block pull execution (r6): when node ids are contiguous 0..n-1,
    both half-steps are zero-shuffle driver-vector gathers — auth over the
    forward-edge pull store, hub over the reversed-edge store (both raw
    weights from ``blocks.open_store``, so the forward store is the one
    Katz/eigenvector use on the same edges) — instead of 2 joins + 2
    groupBys + a localCheckpoint per iteration. Each store is pinned as
    soon as it is open, before the second one can evict it. Same
    unnormalized-loop + periodic/final L1 rescale semantics as the
    DataFrame path. Returns None when the graph does not qualify for the
    pull engine (blocks._pull_size, or an edge endpoint that is no node id)."""
    import contextlib

    import numpy as np
    import pandas as pd

    from linkgraph.algorithms import blocks

    n, m = blocks._pull_size(graph.nodes, graph.edges)
    if n is None:
        return None
    edges = graph.edges.select("src", "dst")
    fwd = edges.withColumn("weight", F.lit(1.0))
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")).withColumn(
        "weight", F.lit(1.0)
    )
    sc = edges.sparkSession.sparkContext

    def l1(v):
        s = v.sum()
        return v * (float(n) / s) if s > 0 else np.zeros_like(v)

    h = np.ones(n)
    a = np.zeros(n)
    prev_norm = None
    iterations, converged = 0, False
    with contextlib.ExitStack() as pins:
        steps = []
        for e in (fwd, rev):
            path, b = blocks.pull_store(e, m, normalize=False)
            if blocks.endpoints_outside(path, n) is not None:
                return None
            pins.enter_context(blocks.pinned_store(path))
            steps.append(blocks.pull_engine(sc, path, b, n))
        fwd_step, rev_step = steps
        for step in range(max_iterations):
            a = fwd_step(h)
            h_new = rev_step(a)
            if (step + 1) % RESCALE_EVERY == 0 or tolerance is not None:
                h_new, a = l1(h_new), l1(a)
            iterations = step + 1
            if tolerance is not None:
                delta = float(np.abs(h_new - h).sum())
                if prev_norm and delta < tolerance * n:
                    converged = True
                prev_norm = True
            h = h_new
            if converged:
                break
    h, a = l1(h), l1(a)
    out = edges.sparkSession.createDataFrame(
        pd.DataFrame({"id": np.arange(n), "hub": h, "authority": a})
    )
    out.iterations = iterations  # type: ignore[attr-defined]
    out.did_converge = converged  # type: ignore[attr-defined]
    return out


def _l1_pair(nodes: DataFrame, hub: DataFrame, auth: DataFrame, n: int):
    j = hub.join(auth, "id")
    tot = j.agg(
        F.sum("hub").alias("_th"), F.sum("authority").alias("_ta")
    )
    scaled = j.crossJoin(F.broadcast(tot))
    hub2 = scaled.select(
        "id",
        F.when(F.col("_th") > 0, F.col("hub") * F.lit(float(n)) / F.col("_th"))
        .otherwise(F.lit(0.0))
        .alias("hub"),
    )
    auth2 = scaled.select(
        "id",
        F.when(F.col("_ta") > 0, F.col("authority") * F.lit(float(n)) / F.col("_ta"))
        .otherwise(F.lit(0.0))
        .alias("authority"),
    )
    return hub2, auth2


def _final_normalize(out: DataFrame, n: int) -> DataFrame:
    tot = out.agg(F.sum("hub").alias("_th"), F.sum("authority").alias("_ta"))
    return out.crossJoin(F.broadcast(tot)).select(
        "id",
        F.when(F.col("_th") > 0, F.col("hub") * F.lit(float(n)) / F.col("_th"))
        .otherwise(F.lit(0.0))
        .alias("hub"),
        F.when(F.col("_ta") > 0, F.col("authority") * F.lit(float(n)) / F.col("_ta"))
        .otherwise(F.lit(0.0))
        .alias("authority"),
    )
