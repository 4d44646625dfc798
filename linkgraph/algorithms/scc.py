"""Strongly connected components — `algo.scc` (+ iterative variants).

Reference: `algo/.../impl/scc/{SCCTarjan,SCCIterativeTarjan,SCCTunedTarjan}.java`,
`algo/.../impl/multistep/MultistepSCC.java`.

Two paths:

* ``scc`` — distributed **forward-backward coloring** (Fleischer et al. /
  ColorSCC, the MultistepSCC approach): trim trivial SCCs, propagate the
  max node id forward to a fixpoint (every node takes the color of its
  highest-id reachable ancestor), then ONE multi-source backward BFS from
  all color roots restricted to same-color nodes extracts the root's
  entire SCC for EVERY color simultaneously — many SCCs removed per outer
  round, O(log n)-ish expected rounds instead of O(#SCC) single-pivot
  peeling; components labeled by min member id. The forward propagation
  uses **pointer doubling** (``c(v) ← max(c(v), c(c(v)))``, valid because
  "reaches" is transitive and every color value is itself the id of a node
  whose current color is a reachable ancestor), cutting its round count —
  on this engine every round is a fixed number of exchanges, so round
  count is the cost driver (guide §2.4). Below ``DRIVER_EDGE_THRESHOLD``
  the SAME coloring algorithm runs driver-side with vectorized numpy
  supersteps (``_scc_local`` — the union-find / pull-engine hybrid
  crossover contract; identical trim/color/backward arithmetic, exact
  integer ops, so the output is bit-identical, and the distributed loop
  stays the at-scale default with a force-distributed parity test).
* ``scc_tarjan`` — exact driver-side iterative Tarjan over collected CSR
  for modest graphs (the reference's default is also single-threaded).
  The contract and tests run the distributed ``scc``.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, functions as F

from linkgraph.graph import Graph


def _doubled_max_prop(edges: DataFrame, init: DataFrame, col: str) -> DataFrame:
    """Max-propagation of ``col`` from src → dst over ``edges`` (src, dst) to a
    fixpoint, accelerated with pointer doubling: each round applies one edge
    relaxation AND ``c(v) ← max(c(v), c(c(v)))``. Every propagated value is a
    node id present in the table (values start as own ids and only existing
    values move), so the doubling self-join is total. Exact: values only grow
    and are bounded by the true fixpoint; stopping when nothing changed means
    in particular the edge relaxation is at ITS fixpoint, which alone defines
    the result — doubling only shortens the schedule (O(log d) rounds)."""
    cur = init.localCheckpoint(eager=True)
    while True:
        inc = (
            edges.join(
                cur.select(F.col("id").alias("src"), F.col(col).alias("_c_src")), "src"
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(F.max("_c_src").alias("_c_in"))
        )
        hop = cur.join(
            cur.select(F.col("id").alias(col), F.col(col).alias("_c_hop")), col
        )
        # checkpoint the merged table ONCE per round; the change probe and
        # the next table are cheap scans/projections of it
        merged = (
            hop.join(inc, "id", "left")
            .withColumn(
                "_c_new",
                F.greatest(F.col(col), F.coalesce("_c_in", F.lit(-1)), "_c_hop"),
            )
            .select("id", col, "_c_new")
            .localCheckpoint(eager=True)
        )
        if merged.filter(F.col("_c_new") > F.col(col)).isEmpty():
            return cur
        cur = merged.select("id", F.col("_c_new").alias(col)).localCheckpoint(
            eager=True
        )


def _scc_local(edges: DataFrame, nodes: DataFrame, max_rounds: int) -> DataFrame | None:
    """Driver-local forward-backward coloring below DRIVER_EDGE_THRESHOLD
    (r6) — the union-find / pull-engine hybrid crossover, NOT Tarjan: the
    same trim-to-fixpoint / forward-max-color / backward-reach rounds as
    the distributed loop, vectorized in numpy. Node indices are assigned
    in ascending id order, so index comparisons ≡ id comparisons and every
    step is exact integer arithmetic — the output (unique anyway: SCCs
    labeled by min member id) matches the distributed path bit-for-bit.
    Returns None when the edges or the node table exceed the threshold
    (LIMIT-bounded probes fused with the collects, no full scan)."""
    import pandas as pd

    from linkgraph.algorithms.blocks import collect_if_small, index_edges

    ep = collect_if_small(edges)
    if ep is None:
        return None
    node_pd = collect_if_small(nodes.select("id"))
    if node_pd is None:
        return None
    spark = nodes.sparkSession
    ids = np.sort(node_pd["id"].to_numpy(np.int64, copy=True))
    n = len(ids)
    if n == 0:
        out = spark.createDataFrame([], "id long, component long")
        out.iterations = 0
        out.did_converge = True
        return out
    # drop edges with endpoints outside the node set — the distributed
    # loop's joins against `active` do the same
    es, ed, ok = index_edges(
        ids, ep["src"].to_numpy(np.int64), ep["dst"].to_numpy(np.int64)
    )
    es, ed = es[ok], ed[ok]
    comp = np.full(n, -1, dtype=np.int64)
    active = np.ones(n, dtype=bool)
    rounds = 0
    converged = False
    while rounds < max_rounds:
        rounds += 1
        # trim trivial SCCs to a fixpoint (no in- OR no out-edge in active)
        while True:
            m = active[es] & active[ed]
            has_out = np.zeros(n, dtype=bool)
            has_out[es[m]] = True
            has_in = np.zeros(n, dtype=bool)
            has_in[ed[m]] = True
            trivial = active & ~(has_out & has_in)
            if not trivial.any():
                break
            comp[trivial] = np.flatnonzero(trivial)
            active &= ~trivial
        if not active.any():
            converged = True
            break
        m = active[es] & active[ed]
        aes, aed = es[m], ed[m]
        # forward max-index propagation (≡ max-id: indices are id-ordered),
        # with the same pointer-doubling step as the distributed loop
        color = np.arange(n, dtype=np.int64)
        while True:
            new = color.copy()
            np.maximum.at(new, aed, color[aes])
            np.maximum(new, new[new], out=new)
            if np.array_equal(new, color):
                break
            color = new
        # backward reach from every color root within its same-color class
        sm = color[aes] == color[aed]
        bs, bd = aes[sm], aed[sm]
        bc = np.arange(n, dtype=np.int64)
        while True:
            new = bc.copy()
            np.maximum.at(new, bs, bc[bd])  # reach propagates dst → src
            np.maximum(new, new[new], out=new)
            if np.array_equal(new, bc):
                break
            bc = new
        members = active & (bc == color)
        midx = np.flatnonzero(members)
        lab = np.full(n, np.iinfo(np.int64).max)
        np.minimum.at(lab, color[midx], midx)
        comp[midx] = lab[color[midx]]
        active &= ~members
        if not active.any():
            converged = True
            break
    done = comp >= 0
    out = spark.createDataFrame(
        pd.DataFrame({"id": ids[done], "component": ids[comp[done]]}),
        schema="id long, component long",
    )
    out.iterations = rounds
    out.did_converge = converged
    return out


def scc(graph: Graph, max_rounds: int = 10_000) -> DataFrame:
    """→ (id, component): forward-backward coloring, min-member-id labels."""
    edges = graph.edges.filter(F.col("src") != F.col("dst")).select("src", "dst").persist()
    local = _scc_local(edges, graph.nodes, max_rounds)
    if local is not None:
        edges.unpersist()
        return local
    spark = graph.nodes.sparkSession
    active = graph.nodes.select("id").localCheckpoint(eager=True)
    result = spark.createDataFrame([], "id long, component long")
    rounds = 0
    converged = False
    while rounds < max_rounds:
        rounds += 1
        # trim trivial SCCs to a FIXPOINT: repeatedly peel nodes with no
        # in- or out-edge within active (clears whole DAG tails/chains in
        # one outer round instead of one layer per round). One unpivoted
        # aggregation finds the nodes with BOTH an in- and an out-edge
        # (previously two distinct-scans + two joins per round).
        while True:
            srcs = edges.join(active.withColumnRenamed("id", "src"), "src").join(
                active.withColumnRenamed("id", "dst"), "dst"
            )
            nontrivial = (
                srcs.select(
                    F.explode(
                        F.array(
                            F.struct(
                                F.col("src").alias("id"),
                                F.lit(1).alias("o"),
                                F.lit(0).alias("i"),
                            ),
                            F.struct(
                                F.col("dst").alias("id"),
                                F.lit(0).alias("o"),
                                F.lit(1).alias("i"),
                            ),
                        )
                    ).alias("e")
                )
                .select("e.*")
                .groupBy("id")
                .agg(F.max("o").alias("o"), F.max("i").alias("i"))
                .filter((F.col("o") == 1) & (F.col("i") == 1))
                .select("id")
                .localCheckpoint(eager=True)
            )
            if nontrivial.count() == active.count():  # both checkpointed: cheap
                break
            trivial = active.join(nontrivial, "id", "left_anti")
            result = result.unionByName(
                trivial.select("id", F.col("id").alias("component"))
            ).localCheckpoint(eager=True)
            active = nontrivial
        if active.isEmpty():
            converged = True
            break
        # --- color: forward max-id propagation over the active subgraph
        # (every node ends with the max id that can reach it), doubled
        ae = (
            edges.join(active.withColumnRenamed("id", "src"), "src")
            .join(active.withColumnRenamed("id", "dst"), "dst")
            .localCheckpoint(eager=True)
        )
        colors = _doubled_max_prop(
            ae, active.select("id", F.col("id").alias("color")), "color"
        )
        # --- multi-source backward reach from ALL color roots at once,
        # restricted to same-color nodes: that is exactly the root's SCC.
        # Frontier-delta BFS, NOT doubled: a doubled max-reach pass was
        # measured 2.8× slower here — it relaxes every in-class edge every
        # round while this frontier only carries newly-reached members.
        roots = colors.filter(F.col("id") == F.col("color")).select("id", "color")
        members = roots.localCheckpoint(eager=True)
        frontier = members
        while True:
            nxt = (
                ae.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
                .join(frontier.withColumnRenamed("id", "src"), "src")
                .select(F.col("dst").alias("id"), "color")
                .distinct()
                .join(colors, ["id", "color"])  # same color only (also ⊆ active)
                .join(members.select("id"), "id", "left_anti")
                .localCheckpoint(eager=True)
            )
            if nxt.isEmpty():
                break
            members = members.unionByName(nxt).localCheckpoint(eager=True)
            frontier = nxt
        comp_label = members.groupBy("color").agg(F.min("id").alias("component"))
        result = result.unionByName(
            members.join(comp_label, "color").select("id", "component")
        ).localCheckpoint(eager=True)
        active = active.join(members.select("id"), "id", "left_anti").localCheckpoint(
            eager=True
        )
        ae.unpersist()
        if active.isEmpty():
            converged = True
            break
    edges.unpersist()
    result.iterations = rounds
    result.did_converge = converged
    return result


def scc_tarjan(graph: Graph) -> DataFrame:
    """Exact iterative Tarjan on the driver → (id, component=min member id)."""
    pdf = graph.edges.filter(F.col("src") != F.col("dst")).select("src", "dst").toPandas()
    ids = [int(r["id"]) for r in graph.nodes.select("id").collect()]
    adj: dict[int, list[int]] = {i: [] for i in ids}
    for s, d in zip(pdf["src"].to_numpy(np.int64), pdf["dst"].to_numpy(np.int64)):
        if int(s) in adj:
            adj[int(s)].append(int(d))
    index = {}
    low = {}
    on_stack = set()
    stack: list[int] = []
    comp_of: dict[int, int] = {}
    counter = [0]

    for root in ids:
        if root in index:
            continue
        work = [(root, iter(adj[root]))]
        index[root] = low[root] = counter[0]
        counter[0] += 1
        stack.append(root)
        on_stack.add(root)
        while work:
            v, it = work[-1]
            advanced = False
            for w_ in it:
                if w_ not in index:
                    index[w_] = low[w_] = counter[0]
                    counter[0] += 1
                    stack.append(w_)
                    on_stack.add(w_)
                    work.append((w_, iter(adj.get(w_, []))))
                    advanced = True
                    break
                elif w_ in on_stack:
                    low[v] = min(low[v], index[w_])
            if advanced:
                continue
            work.pop()
            if work:
                pv = work[-1][0]
                low[pv] = min(low[pv], low[v])
            if low[v] == index[v]:
                members = []
                while True:
                    w_ = stack.pop()
                    on_stack.discard(w_)
                    members.append(w_)
                    if w_ == v:
                        break
                cid = min(members)
                for m in members:
                    comp_of[m] = cid
    spark = graph.nodes.sparkSession
    return spark.createDataFrame(
        sorted(comp_of.items()), "id long, component long"
    )
