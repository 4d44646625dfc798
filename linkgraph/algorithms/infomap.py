"""InfoMap community detection — `algo.infoMap`.

Reference: `algo/src/main/java/org/neo4j/graphalgo/impl/infomap/InfoMap.java`
(two-level map equation, Rosvall & Bergstrom PNAS'08) — there a
single-threaded greedy optimizer over PageRank visit rates.

Spark split: the flow distribution (PageRank visit rates) is computed with
the DISTRIBUTED PageRank engine — that's the part that touches every edge
at full scale. The greedy module optimization runs on the driver:

* when the edge table fits the driver crossover
  (``blocks.collect_if_small``) — directly over the collected (edge, rate)
  arrays, exactly like the reference's single-threaded optimizer;
* above it — the graph is first COARSENED with a distributed Louvain
  level (communities → super-nodes, per-edge stationary flow and visit
  rates aggregated per community with DataFrame ops), and the greedy map-
  equation sweep runs over the contracted graph. The per-node
  ``Σ plogp(p_i)`` codelength term is assignment-independent and is
  computed distributed. This lifts the practical ceiling from
  driver-collectable edges to driver-collectable COMMUNITIES.

Map equation (natural-log variant, two-level, no teleport recording):

    L(M) = plogp(q) − 2·Σ_m plogp(q_m) − Σ_i plogp(p_i)
           + Σ_m plogp(q_m + p_m)

with p_i = visit rate, t_ij = w_ij / W_i, q_m = Σ_{i∈m, j∉m} p_i·t_ij,
p_m = Σ_{i∈m} p_i, q = Σ_m q_m.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, functions as F

from linkgraph.algorithms import blocks
from linkgraph.graph import Graph


def _plogp(x):
    x = np.asarray(x, dtype=np.float64)
    out = np.zeros_like(x)
    pos = x > 0
    out[pos] = x[pos] * np.log(x[pos])
    return out


def _greedy_modules(p, src, dst, flow, n, max_sweeps):
    """Greedy two-level map-equation optimizer over a flow graph.

    p: visit rate per (dense 0..n-1) node; (src, dst, flow): directed
    stationary flow per edge, self-loops EXCLUDED (intra-node flow never
    exits a module). Deterministic ascending-index sweeps (the reference
    shuffles; we don't, for reproducibility).
    Returns (module labels dense, q_mod, p_mod) at the local optimum.
    Note: the per-node −Σ plogp(p_i) codelength term is constant w.r.t.
    the assignment, so it never enters the move gains.
    """
    out_order = np.argsort(src, kind="stable")
    out_ptr = np.concatenate(([0], np.cumsum(np.bincount(src, minlength=n))))
    out_idx = out_order
    in_order = np.argsort(dst, kind="stable")
    in_ptr = np.concatenate(([0], np.cumsum(np.bincount(dst, minlength=n))))
    in_idx = in_order

    module = np.arange(n, dtype=np.int64)
    p_mod = p.copy()
    # q_m init: every node its own module → exit = all outgoing flow
    node_out_flow = np.bincount(src, weights=flow, minlength=n)
    q_mod = node_out_flow.copy()

    def node_module_flows(i):
        """(modules, out_flow_to_module, in_flow_from_module) over i's nbrs."""
        oe = out_idx[out_ptr[i]:out_ptr[i + 1]]
        ie = in_idx[in_ptr[i]:in_ptr[i + 1]]
        mods = np.concatenate([module[dst[oe]], module[src[ie]]])
        of = np.concatenate([flow[oe], np.zeros(len(ie))])
        inf_ = np.concatenate([np.zeros(len(oe)), flow[ie]])
        um, inv = np.unique(mods, return_inverse=True)
        return um, np.bincount(inv, weights=of), np.bincount(inv, weights=inf_)

    # running Σq maintained incrementally — recomputing the O(n) sum inside
    # the per-candidate loop would make each sweep O(m·n)
    q_tot = float(q_mod.sum())

    def _plogp_s(x: float) -> float:
        return x * np.log(x) if x > 0 else 0.0

    for _ in range(max_sweeps):
        moved = 0
        for i in range(n):
            cur = module[i]
            um, of, inf_ = node_module_flows(i)
            if len(um) == 0:
                continue
            self_pos = np.searchsorted(um, cur)
            of_cur = of[self_pos] if self_pos < len(um) and um[self_pos] == cur else 0.0
            in_cur = inf_[self_pos] if self_pos < len(um) and um[self_pos] == cur else 0.0
            # removing i from cur: its out/in flow to cur-members becomes exit
            q_cur_without = q_mod[cur] - node_out_flow[i] + of_cur + in_cur
            # ΔL for ALL candidate modules in one vectorized pass (the old
            # per-candidate loop built ~6 numpy temporaries per candidate);
            # identical arithmetic order → bit-identical gains
            q_cur_new = q_cur_without
            p_cur_new = p_mod[cur] - p[i]
            q_um = q_mod[um]
            p_um = p_mod[um]
            q_m_new = q_um + node_out_flow[i] - of - inf_
            p_m_new = p_um + p[i]
            plogp_qcur = _plogp_s(q_mod[cur])
            plogp_qcur_new = _plogp_s(q_cur_new)
            old_terms = (
                (plogp_qcur + _plogp(q_um)) * -2.0
                + (_plogp_s(q_mod[cur] + p_mod[cur]) + _plogp(q_um + p_um))
            )
            new_terms = (
                (plogp_qcur_new + _plogp(q_m_new)) * -2.0
                + (_plogp_s(q_cur_new + p_cur_new) + _plogp(q_m_new + p_m_new))
            )
            dq = (q_cur_new + q_m_new) - (q_mod[cur] + q_um)
            d_total = _plogp(q_tot + dq) - _plogp_s(q_tot)
            gains = (new_terms - old_terms) + d_total
            # selection keeps the EXACT sequential semantics (strict 1e-12
            # improvement, ascending-module tie handling) over the gains array
            best_gain, best_mod = 0.0, cur
            for k in range(len(um)):
                m = um[k]
                if m == cur:
                    continue
                gain = gains[k]
                if gain < best_gain - 1e-12 or (
                    abs(gain - best_gain) <= 1e-12 and best_mod != cur and m < best_mod
                ):
                    best_gain, best_mod = gain, m
            if best_mod != cur:
                k = int(np.searchsorted(um, best_mod))
                q_before = q_mod[cur] + q_mod[best_mod]
                # clip: repeated incremental updates can drift ε below zero
                q_mod[cur] = max(q_cur_without, 0.0)
                q_mod[best_mod] = max(
                    q_mod[best_mod] + node_out_flow[i] - of[k] - inf_[k], 0.0
                )
                q_tot += (q_mod[cur] + q_mod[best_mod]) - q_before
                p_mod[cur] -= p[i]
                p_mod[best_mod] += p[i]
                module[i] = best_mod
                moved += 1
        if moved == 0:
            break
    return module, q_mod, p_mod


def _final_codelength(module, q_mod, p_mod, plogp_nodes_sum: float) -> float:
    used = np.unique(module)
    q = q_mod[used].sum()
    return (
        _plogp(np.array([q]))[0]
        - 2.0 * _plogp(q_mod[used]).sum()
        - plogp_nodes_sum
        + _plogp(q_mod[used] + p_mod[used]).sum()
    )


def infomap(
    graph: Graph,
    pr_iterations: int = 30,
    max_sweeps: int = 20,
    damping: float = 0.85,
    weighted: bool = True,
) -> DataFrame:
    """→ (id, community) [+ .codelength]. Deterministic greedy sweeps in
    ascending node-id order, modules labeled by min member id. Graphs
    whose edge table is over the driver crossover are Louvain-coarsened
    distributed first; the sweep then runs over communities."""
    from linkgraph.algorithms.pagerank import PageRank

    # flow: distributed PageRank visit rates, normalized to Σp = 1, on the
    # plan PageRank's own auto resolution picks
    pr = PageRank(damping=damping, max_iterations=pr_iterations, weighted=weighted)
    # pull: early stop once visit rates stabilize — the delta check is a
    # driver-side numpy max, zero extra Spark jobs. csr: skip it (a
    # per-iteration delta join would cost more than it saves).
    pr.tolerance = 1e-10 if pr.resolve(graph) == "pull" else None
    ranks = pr.run(graph)
    spark = graph.nodes.sparkSession

    # the side follows the edge table alone: the coarsened path is an
    # approximation, and Louvain keeps every isolated node its own
    # community, so it is no fallback for a large node table
    epdf = blocks.collect_if_small(graph.edges.select("src", "dst", "weight"))
    if epdf is not None:
        # ---- direct driver path (reference-faithful)
        epdf = epdf[epdf["src"] != epdf["dst"]]
        rpdf = ranks.select("id", "rank").toPandas()
        ids = rpdf["id"].to_numpy(np.int64)
        order = np.argsort(ids)
        ids = ids[order]
        p = rpdf["rank"].to_numpy(np.float64)[order]
        p = p / p.sum()
        n = len(ids)
        src = np.searchsorted(ids, epdf["src"].to_numpy(np.int64))
        dst = np.searchsorted(ids, epdf["dst"].to_numpy(np.int64))
        w = epdf["weight"].to_numpy(np.float64)
        wsum = np.bincount(src, weights=w, minlength=n)
        t = w / np.maximum(wsum[src], 1e-300)  # transition prob of each edge
        flow = p[src] * t                      # stationary flow on each edge

        module, q_mod, p_mod = _greedy_modules(p, src, dst, flow, n, max_sweeps)

        # canonical labels: min member ORIGINAL id per module
        rep = np.full(n, np.iinfo(np.int64).max, dtype=np.int64)
        np.minimum.at(rep, module, ids)
        labels = rep[module]
        code = _final_codelength(module, q_mod, p_mod, _plogp(p).sum())
        import pandas as pd

        out = spark.createDataFrame(pd.DataFrame({"id": ids, "community": labels}))
    else:
        # ---- Louvain-coarsened path: everything per-edge stays distributed
        from linkgraph.algorithms.louvain import louvain

        total = ranks.agg(F.sum("rank")).first()[0] or 1.0
        p_df = ranks.select("id", (F.col("rank") / F.lit(float(total))).alias("p"))
        e = graph.edges.filter(F.col("src") != F.col("dst"))
        wsum_df = e.groupBy(F.col("src").alias("id")).agg(F.sum("weight").alias("ws"))
        flow_df = (
            e.join(p_df.withColumnRenamed("id", "src"), "src")
            .join(wsum_df.withColumnRenamed("id", "src"), "src")
            .select(
                "src",
                "dst",
                (F.col("p") * F.col("weight") / F.col("ws")).alias("flow"),
            )
        )
        comm = louvain(graph, max_levels=1)
        lbl_s = comm.select(F.col("id").alias("src"), F.col("community").alias("cs"))
        lbl_d = comm.select(F.col("id").alias("dst"), F.col("community").alias("cd"))
        super_edges = (
            flow_df.join(lbl_s, "src")
            .join(lbl_d, "dst")
            .filter(F.col("cs") != F.col("cd"))  # intra-community flow never exits
            .groupBy(F.col("cs").alias("src"), F.col("cd").alias("dst"))
            .agg(F.sum("flow").alias("flow"))
        )
        super_p = (
            p_df.join(comm, "id")
            .groupBy(F.col("community").alias("sid"))
            .agg(F.sum("p").alias("p"))
        )
        # the contracted graph must fit the driver crossover
        spdf = blocks.collect_if_small(super_p)
        sepdf = None if spdf is None else blocks.collect_if_small(super_edges)
        if sepdf is None:
            raise ValueError(
                "infomap: Louvain coarsening left more communities or "
                "super-edges than the driver crossover "
                "(blocks.DRIVER_EDGE_THRESHOLD) holds — coarsen further "
                "(more louvain levels) or raise the crossover."
            )
        sids = np.sort(spdf["sid"].to_numpy(np.int64))
        p_sup = np.zeros(len(sids))
        p_sup[np.searchsorted(sids, spdf["sid"].to_numpy(np.int64))] = (
            spdf["p"].to_numpy(np.float64)
        )
        ssrc = np.searchsorted(sids, sepdf["src"].to_numpy(np.int64))
        sdst = np.searchsorted(sids, sepdf["dst"].to_numpy(np.int64))
        sflow = sepdf["flow"].to_numpy(np.float64)

        module, q_mod, p_mod = _greedy_modules(
            p_sup, ssrc, sdst, sflow, len(sids), max_sweeps
        )
        # per-node codelength term, computed distributed (assignment-free)
        plogp_nodes = (
            p_df.agg(F.sum(F.col("p") * F.log("p"))).first()[0] or 0.0
        )
        code = _final_codelength(module, q_mod, p_mod, float(plogp_nodes))
        # map back: node → community (super-node) → module, labeled by the
        # min ORIGINAL node id in the module (min community label suffices:
        # community labels are already min-member node ids)
        rep = np.full(len(sids), np.iinfo(np.int64).max, dtype=np.int64)
        np.minimum.at(rep, module, sids)
        import pandas as pd

        super_lbl = spark.createDataFrame(
            pd.DataFrame({"community": sids, "module": rep[module]})
        )
        out = comm.join(super_lbl, "community", "left").select(
            "id", F.coalesce("module", "community").alias("community")
        )
        # canonicalize: distributed-Louvain community labels are adopted
        # neighbor labels, not min-member ids — relabel by min member so
        # both paths emit identical labels
        canon = out.groupBy("community").agg(F.min("id").alias("_m"))
        out = out.join(canon, "community").select(
            "id", F.col("_m").alias("community")
        )

    # isolated nodes keep their own id
    out = (
        graph.nodes.select("id")
        .join(out, "id", "left")
        .select("id", F.coalesce("community", "id").alias("community"))
    )
    out.codelength = float(code)
    return out
