"""Weakly connected components — `algo.unionFind` (+ variants).

Reference: `algo/src/main/java/org/neo4j/graphalgo/UnionFindProc.java`,
`algo/.../impl/unionfind/{GraphUnionFind,ParallelUnionFind*}.java`,
`core/.../core/utils/dss/DisjointSetStruct.java` (path-halving union-find).

Component id = **min original node id in the component** — canonical and
stable, unlike the reference's arbitrary DSS roots (its tests assert
membership/sizes, not ids; SURVEY.md §7 hard-part 5). ``threshold``
pre-filters edges by weight (> t joins components), exactly the
reference's `threshold` config.

A run takes one of three sides, picked in this order:

* **driver** — no checkpoint is given and the raw ``(src, dst)``
  projection fits ``blocks.DRIVER_EDGE_THRESHOLD`` rows
  (``blocks.collect_if_small``; the raw rows bound the canonical pairs,
  so on duplicate-heavy input this gate is more conservative than one on
  the pairs). Loops and duplicates go into one numpy union-find
  (``union_find_mapping``) as they are. When the node ids fit the same
  budget the result is a local relation of every node row, so the
  caller's action is one job; otherwise the node table is joined with
  the broadcast mapping. An endpoint that is no node id still connects
  its neighbours, but gets no row.
* **pull** — no checkpoint is given, node ids are exactly 0..n-1 within
  the pull engine's memory-aware cap, and every edge endpoint is a node
  id (the store manifest's endpoint range): the driver holds the int64
  label vector and each superstep is one zero-shuffle
  ``blocks.pull_superstep`` job running ``blocks.min_kernel`` (each node's
  minimum over itself and its neighbours) over a CSC store of
  ``loop_free_undirected``. The driver then hooks each node's current root onto
  the pulled minimum and applies full pointer jumping, so labels reach
  the min member id in O(log n) supersteps — plain synchronous min-label
  needs O(diameter). LPA builds its direction-BOTH store from the same
  plan, so the two share one store through ``blocks.open_store``. This
  side is reached only once the driver gate has found the raw edges over
  the budget, so the store is counted and built by Spark without a
  second probe (``probe=False``).
* **Kiveris** — anything else: the **alternating large-star /
  small-star** algorithm (Kiveris et al., "Connected Components in
  MapReduce and Beyond"). Each round rewires every node's larger
  neighbors (large-star) then its smaller neighbors (small-star) onto the
  minimum of the local neighborhood; provably O(log² n) rounds on ANY
  topology. Before the first round each partition is contracted in place
  by a ``mapInArrow`` union-find (``_contract_partitions``), so when a
  partition holds a whole component the star rounds only confirm the
  fixpoint. The path for graphs above the pull cap, for node ids that are
  not 0..n-1, and the only path under checkpoint/resume (its payload is
  the star-round edge table). Only this side symmetrizes the edges
  (``_symmetrize``: one read of the edge plan, one shuffle of canonical
  pairs, checkpointed).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from linkgraph.algorithms import blocks
from linkgraph.graph import Graph
from linkgraph.io import CheckpointManager


def _symmetrize(e: DataFrame) -> DataFrame:
    """Both directions of every distinct non-loop pair of ``e``. The
    distinct runs on the canonical (least, greatest) pair, so it shuffles
    one row per pair and both directions of a pair share a partition."""
    pairs = (
        e.select(F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b"))
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )
    return pairs.select(F.inline(F.array(
        F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
        F.struct(F.col("b").alias("u"), F.col("a").alias("v")),
    )))


def loop_free_undirected(edges: DataFrame) -> DataFrame:
    """edges(src, dst, weight) → both directions of every non-loop pair,
    weighted by the max over the pair's edges in either direction: the
    rows of ``Graph.undirected_edges()`` without self-loops, but like
    ``_symmetrize`` it reads ``edges`` once and shuffles one row per
    canonical pair. LPA's direction-BOTH edge table and WCC's symmetric
    table; both build their pull store from this plan, so they share it."""
    pairs = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"),
            "weight",
        )
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.max("weight").alias("w"))
    )
    return pairs.select(F.inline(F.array(
        F.struct(F.col("a").alias("src"), F.col("b").alias("dst"), F.col("w").alias("weight")),
        F.struct(F.col("b").alias("src"), F.col("a").alias("dst"), F.col("w").alias("weight")),
    )))


def _star(e: DataFrame, large: bool) -> DataFrame:
    """One large-star (attach strictly-larger neighbors to the local min) or
    small-star (attach smaller-or-equal neighbors + self to the local min)
    operation over a symmetric edge set."""
    m = e.groupBy("u").agg(F.least(F.col("u"), F.min("v")).alias("m"))
    j = e.join(m, "u")
    if large:
        out = j.filter(F.col("v") > F.col("u")).select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
    else:
        out = (
            j.filter(F.col("v") < F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(m.select("u", F.col("m").alias("v")))
        )
    return _symmetrize(out)


def _min_labels(a_idx: np.ndarray, b_idx: np.ndarray, n: int) -> np.ndarray:
    """Component labels of nodes ``0..n-1`` joined by the pairs
    ``(a_idx[i], b_idx[i])``: each node's label is the smallest node index
    in its component.

    Vectorized iterated min-label + pointer jumping (the numpy form of
    hash-min; a per-pair Python find/union loop was the bottleneck at ~1M
    pairs). Labels start at self and only ever decrease, so label chases
    are valid pointer jumps."""
    label = np.arange(n)
    while True:
        before = label.copy()
        np.minimum.at(label, a_idx, label[b_idx])
        np.minimum.at(label, b_idx, label[a_idx])
        label = label[label]
        label = label[label]
        if np.array_equal(label, before):
            return label


def _contract_partitions(e: DataFrame) -> DataFrame:
    """Per-partition union-find over the edge table ``e``: each partition
    emits one ``(node, root)`` row for every node its rows connect to a
    smaller partition-local root (the local component's min id).

    A local component of k nodes spans at least k - 1 of the partition's
    rows and becomes k - 1 star rows, so no partition grows, and the
    components of ``e`` are unchanged. Rows come in one direction only and
    repeat across partitions: ``_symmetrize`` the result."""

    def kernel(batches):
        batches = list(batches)
        if not batches:
            return
        u = np.concatenate([b.column("u").to_numpy() for b in batches])
        v = np.concatenate([b.column("v").to_numpy() for b in batches])
        uniq, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
        label = _min_labels(inv[: len(u)], inv[len(u):], len(uniq))
        moved = label != np.arange(len(uniq))
        yield pa.RecordBatch.from_arrays(
            [pa.array(uniq[moved], pa.int64()), pa.array(uniq[label[moved]], pa.int64())],
            names=["u", "v"],
        )

    return e.mapInArrow(kernel, schema="u long, v long")


def _fingerprint(e: DataFrame) -> tuple:
    # hash the DIRECTED pair: the symmetric set holds (u,v) AND (v,u), so a
    # canonical (least,greatest) hash would appear twice and XOR to zero
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64("u", "v")).alias("h"),
    ).first()
    return row["n"], row["h"]


def _pull_components(
    nodes: DataFrame, edges: DataFrame, max_iterations: int
) -> DataFrame | None:
    """The pull side of ``wcc``, or None when the node ids or an edge
    endpoint rule it out (see the module docstring). The store is built
    over ``loop_free_undirected(edges)``, the plan LPA builds its
    direction-BOTH store from, so the two share one store; it is cached
    while a build reads it, so its edge count and the build evaluate it
    once. Labels start at the own id; per superstep m = the pulled
    neighbour minimum, every root r = lab[v] takes min(m[v]) over its
    members (hooking: roots only move to smaller labels, so no cycle
    forms), then pointer jumping flattens every chain onto its root. A
    superstep that changes no label ends the run."""
    n, _ = blocks._pull_size(nodes)
    if n is None:
        return None
    sym = loop_free_undirected(edges).persist()
    try:
        # only reached once wcc's raw-edge probe found the edges over budget
        path, b = blocks.open_store(sym, "pull", normalize=False, probe=False)
    finally:
        sym.unpersist()
    if blocks.endpoints_outside(path, n) is not None:
        return None
    sc = sym.sparkSession.sparkContext
    lab = np.arange(n, dtype=np.int64)
    step, converged = 0, False
    with blocks.pinned_store(path):
        while step < max_iterations:
            step += 1
            m = blocks.pull_superstep(sc, path, b, n, lab, kernel=blocks.min_kernel)
            new = lab.copy()
            np.minimum.at(new, lab, m)
            while True:
                jumped = new[new]
                if np.array_equal(jumped, new):
                    break
                new = jumped
            if np.array_equal(new, lab):
                converged = True
                break
            lab = new
    out = sym.sparkSession.createDataFrame(
        pd.DataFrame({"id": np.arange(n, dtype=np.int64), "component": lab}),
        schema="id long, component long",
    )
    out.iterations = step
    out.did_converge = converged
    return out


def wcc(
    graph: Graph,
    threshold: float | None = None,
    max_iterations: int = 100,
    checkpoint: CheckpointManager | None = None,
    checkpoint_every: int = 5,
) -> DataFrame:
    """→ (id, component) with component = min member id. Exact at fixpoint."""
    edges = graph.edges
    if threshold is not None:
        edges = edges.filter(F.col("weight") > threshold)
    nodes = graph.nodes.select("id")

    # the driver side skips every fixpoint round (each large/small-star
    # round costs ~14 jobs, mostly fixed scheduler overhead); the
    # distributed sides are the pull engine and the Kiveris fixpoint (the
    # only path under checkpoint/resume)
    if checkpoint is None:
        pairs = blocks.collect_if_small(edges.select("src", "dst").dropna())
        if pairs is not None:
            out = _label_nodes(nodes, pairs)
            out.iterations = 1  # one exact union-find pass (stats rows expect ≥ 1)
            out.did_converge = True
            return out
        out = _pull_components(nodes, edges, max_iterations)
        if out is not None:
            return out

    e = _symmetrize(
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    )
    start = 0
    if checkpoint is not None:
        latest = checkpoint.latest(fmt="wcc/edges-v2")
        if latest is not None:
            start, e, _ = latest
    e = e.localCheckpoint(eager=True)

    # the distinct in _symmetrize precedes the first fingerprint: a row
    # repeated across partitions XOR-cancels in the hash and costs one more
    # round. Also applied after a resume, as it preserves connectivity.
    e = _symmetrize(_contract_partitions(e)).localCheckpoint(eager=True)
    prev_fp = _fingerprint(e)

    step = start
    converged = False
    while step < max_iterations:
        step += 1
        e = _star(e, large=True).localCheckpoint(eager=True)
        e = _star(e, large=False).localCheckpoint(eager=True)
        fp = _fingerprint(e)
        if checkpoint is not None and checkpoint_every and step % checkpoint_every == 0:
            e = checkpoint.write(e, step, {"iteration": step}, fmt="wcc/edges-v2")
        if fp == prev_fp:
            converged = True
            break
        prev_fp = fp

    # fixpoint is a star forest: component(u) = min(u, neighbors)
    labels = e.groupBy(F.col("u").alias("id")).agg(
        F.least(F.col("id"), F.min("v")).alias("component")
    )
    out = (
        nodes.join(labels, "id", "left")
        .select("id", F.coalesce("component", F.col("id")).alias("component"))
    )
    out.iterations = step
    out.did_converge = converged
    return out


def _label_nodes(nodes: DataFrame, pairs: pd.DataFrame) -> DataFrame:
    """(id, component) of every row of ``nodes`` under the union-find over
    ``pairs``: a local relation when the node ids fit
    ``blocks.collect_if_small`` (a raw-row gate), else a join of the node
    table with the broadcast mapping."""
    spark = nodes.sparkSession
    ids_pd = blocks.collect_if_small(nodes)
    if ids_pd is None:
        m = F.broadcast(spark.createDataFrame(union_find_mapping(pairs), "id long, component long"))
        return nodes.join(m, "id", "left").select(
            "id", F.coalesce("component", F.col("id")).alias("component")
        )
    ids = ids_pd["id"].to_numpy(np.int64)
    return spark.createDataFrame(
        pd.DataFrame({"id": ids, "component": union_find_labels(pairs, ids)}),
        "id long, component long",
    )


def union_find_labels(pairs: pd.DataFrame, ids: np.ndarray) -> np.ndarray:
    """The component (min member id) of each of ``ids`` under the driver
    union-find over the collected (src, dst) ``pairs``; an id in no pair
    is its own component. Serves ``wcc``'s driver side and the driver
    side of ``dedup.near_duplicate_clusters``."""
    mapping = union_find_mapping(pairs)
    pos, hit = blocks.lookup(mapping["id"].to_numpy(np.int64), ids)
    comp = ids.copy()
    comp[hit] = mapping["component"].to_numpy(np.int64)[pos[hit]]
    return comp


def union_find_mapping(pairs: pd.DataFrame) -> pd.DataFrame:
    """Driver-side union-find over collected (src, dst) pairs → the mapping
    (id, component) of every endpoint, sorted by id, component = min
    member id.

    The driver side of ``wcc`` (which also serves the dedup cluster tail
    and the k-spanning tree) and of the Borůvka merge rounds in
    ``paths.minimum_spanning_forest``, its only callers: once
    ``blocks.collect_if_small`` returns the pairs, a numpy union-find
    replaces the distributed fixpoint rounds (~14 jobs each).
    """
    ends = pairs.to_numpy(dtype=np.int64).reshape(-1, 2)
    uniq, inv = np.unique(ends, return_inverse=True)
    inv = inv.reshape(ends.shape)
    # indices into the SORTED uniq array: the smallest index is the min id
    label = _min_labels(inv[:, 0], inv[:, 1], len(uniq))
    return pd.DataFrame({"id": uniq, "component": uniq[label]})


def wcc_stats(components: DataFrame) -> DataFrame:
    """Write-mode summary row: communityCount + size percentiles.

    Reference builds these with HdrHistogram in `algo/.../results/*`.
    """
    sizes = components.groupBy("component").agg(F.count(F.lit(1)).alias("size"))
    return sizes.agg(
        F.count(F.lit(1)).alias("communityCount"),
        F.max("size").alias("maxSetSize"),
        F.min("size").alias("minSetSize"),
        F.expr("percentile_approx(size, array(0.5,0.75,0.9,0.95,0.99))").alias("percentiles"),
    )
