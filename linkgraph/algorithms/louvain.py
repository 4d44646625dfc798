"""Louvain community detection — `algo.louvain`.

Reference: `algo/.../impl/louvain/{Louvain,ModularityOptimization}.java`:
multi-level modularity optimization — local-move phase then graph
coarsening, repeated per level, optional seeding and
`includeIntermediateCommunities`.

Spark-native: the local-move phase runs **synchronous** rounds (all nodes
evaluate their best neighbor community against the previous round's state,
ties broken by min community id) — the reference's sequential sweeps are
order-dependent, so like LPA this is a deterministic variant of the same
optimization, not a bit-for-bit port. Coarsening is a groupBy contraction
(community → super-node).

Scale design: Louvain coarsens geometrically — after the first level the
super-graph is orders of magnitude smaller than the input. So the only
phase that must be distributed is level 1 over the full-size edge table;
every later level runs on the (tiny) coarsened graph with an exact
numpy kernel on the driver. Both kernels implement the *same* synchronous
parity-alternating move rule, so results are identical path-for-path
(tested). ``blocks.collect_if_small`` picks the crossover by edge rows.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, Window, functions as F

from linkgraph.algorithms import blocks
from linkgraph.graph import Graph


# ------------------------------------------------------------- numpy kernel
def _np_move_phase(src, dst, w, comm, k, m2: float, rounds: int, parity_ids=None):
    """Synchronous best-gain moves, parity-alternated — identical rule to
    the distributed `_move_phase`. Node/community labels are dense [0, n).
    ``parity_ids`` maps dense index → ORIGINAL node id so the alternation
    matches the distributed kernel's ``pmod(id, 2)`` even when original ids
    are non-contiguous (falls back to dense-index parity when omitted).
    Returns the updated comm array."""
    n = len(k)
    if parity_ids is None:
        parity_ids = np.arange(n, dtype=np.int64)
    nonself = src != dst
    s, d, ww = src[nonself], dst[nonself], w[nonself]
    stable = 0
    for rnd in range(rounds):
        ktot = np.bincount(comm, weights=k, minlength=n)
        # w_to: Σ weight from node i into neighbor community c
        key = s.astype(np.int64) * n + comm[d]
        uk, inv = np.unique(key, return_inverse=True)
        w_in = np.bincount(inv, weights=ww)
        pi = (uk // n).astype(np.int64)
        pc = (uk % n).astype(np.int64)
        own = np.zeros(n)
        own_mask = pc == comm[pi]
        own[pi[own_mask]] = w_in[own_mask]
        stay = own[pi] - k[pi] * (ktot[comm[pi]] - k[pi]) / m2
        gain = (w_in - k[pi] * ktot[pc] / m2) - stay
        cand = np.flatnonzero(
            (pc != comm[pi]) & (gain > 1e-12) & (parity_ids[pi] % 2 == rnd % 2)
        )
        if cand.size == 0:
            stable += 1
            if stable >= 2:
                break
            continue
        stable = 0
        # best per node: gain desc, ncomm asc (np.lexsort: last key primary)
        order = np.lexsort((pc[cand], -gain[cand], pi[cand]))
        si = cand[order]
        first = np.ones(len(si), bool)
        first[1:] = pi[si][1:] != pi[si][:-1]
        movers = si[first]
        comm = comm.copy()
        comm[pi[movers]] = pc[movers]
    return comm


def _np_modularity(src, dst, w, comm, k, m2: float) -> float:
    internal = float(w[comm[src] == comm[dst]].sum())
    ktot = np.bincount(comm, weights=k, minlength=len(k))
    return internal / m2 - float((ktot * ktot).sum()) / (m2 * m2)


def _np_louvain(src, dst, w, n: int, m2: float, max_levels: int,
                move_rounds: int, init_comm=None, node_ids=None,
                init_label_ids=None):
    """Multilevel numpy Louvain over a both-direction edge list with dense
    node labels [0, n). ``node_ids`` (dense index → original id) keeps the
    parity alternation aligned with the distributed kernel's
    ``pmod(original_id, 2)`` across every level — a super-node's original
    id is the id of the community label it was contracted from.
    ``init_label_ids`` maps level-0 community-label VALUES to their
    distributed-world ids (seed values): with a seeded ``init_comm`` the
    label space is the factorized seed space, not the node space, so the
    coarsening label→id lookup must use the seed ids, not ``node_ids``.
    Returns (mapping original-node→community label in original label
    space, levels list, final modularity)."""
    k0 = np.bincount(src, weights=w, minlength=n)
    mapping = np.arange(n, dtype=np.int64)  # original node -> current comm
    cs, cd, cw = src, dst, w  # current-level (coarsened) edges
    cur_n = n
    pids = (
        np.asarray(node_ids, dtype=np.int64)
        if node_ids is not None
        else np.arange(n, dtype=np.int64)
    )
    levels = []
    prev_q = _np_modularity(src, dst, w, mapping, k0, m2)
    for _ in range(max_levels):
        if len(levels) == 0 and init_comm is not None:
            comm = init_comm.astype(np.int64)
        else:
            comm = np.arange(cur_n, dtype=np.int64)
        kk = np.bincount(cs, weights=cw, minlength=cur_n)
        comm = _np_move_phase(cs, cd, cw, comm, kk, m2, move_rounds, parity_ids=pids)
        mapping = comm[mapping]
        q = _np_modularity(src, dst, w, mapping, k0, m2)
        levels.append(mapping.copy())
        if q <= prev_q + 1e-9:
            break
        prev_q = q
        # coarsen: relabel communities densely, contract edges
        uniq, dense = np.unique(mapping, return_inverse=True)
        mapping = dense.astype(np.int64)
        cur_n = len(uniq)
        # super-node's original id = its label's id — in the LABEL space of
        # the level just finished (seed space at a seeded level 0, node
        # space everywhere else)
        lids = (
            np.asarray(init_label_ids, dtype=np.int64)
            if (len(levels) == 1 and init_comm is not None
                and init_label_ids is not None)
            else pids
        )
        pids = lids[uniq]
        key = mapping[src] * cur_n + mapping[dst]
        uk, inv = np.unique(key, return_inverse=True)
        cw = np.bincount(inv, weights=w)
        cs = (uk // cur_n).astype(np.int64)
        cd = (uk % cur_n).astype(np.int64)
    # canonicalize: community label = min original (dense) node index in it,
    # so labels are valid indices into the caller's id array
    rep = np.full(int(mapping.max()) + 1, n, dtype=np.int64)
    np.minimum.at(rep, mapping, np.arange(n, dtype=np.int64))
    return rep[mapping], levels, prev_q


def _canon_level(lv: np.ndarray, n: int) -> np.ndarray:
    """Canonicalize one level's community labels to min member dense index."""
    rep = np.full(int(lv.max()) + 1, n, dtype=np.int64)
    np.minimum.at(rep, lv, np.arange(n, dtype=np.int64))
    return rep[lv]


def _collect_edges(und: DataFrame, count_first: bool = False):
    """Both-direction (src, dst, weight) rows → (src, dst, w) numpy + dense
    id map, or None when the table is over the driver crossover."""
    pdf = blocks.collect_if_small(
        und.select("src", "dst", "weight"), count_first=count_first
    )
    if pdf is None:
        return None
    src = pdf["src"].to_numpy(np.int64)
    dst = pdf["dst"].to_numpy(np.int64)
    w = pdf["weight"].to_numpy(np.float64)
    ids = np.unique(np.concatenate([src, dst]))
    src = np.searchsorted(ids, src)
    dst = np.searchsorted(ids, dst)
    return src, dst, w, ids


# -------------------------------------------------------- distributed kernel
def _move_phase(edges: DataFrame, comm: DataFrame, m2: float, rounds: int) -> DataFrame:
    """Synchronous best-gain moves. edges: undirected both-direction rows,
    MUST be materialized (localCheckpoint/persist) by the caller."""
    # k_i: weighted degree per node (self-loops count once in this
    # both-direction row representation)
    k = edges.groupBy(F.col("src").alias("id")).agg(F.sum("weight").alias("k"))
    k = k.localCheckpoint(eager=True)
    stable = 0
    for rnd in range(rounds):
        # Σ_tot per community from previous assignment
        ktot = (
            comm.join(k, "id")
            .groupBy("comm")
            .agg(F.sum("k").alias("ktot"))
        )
        lbl = comm.select(F.col("id").alias("dst"), F.col("comm").alias("ncomm"))
        w_to = (
            edges.filter(F.col("src") != F.col("dst"))
            .join(lbl, "dst")
            .groupBy(F.col("src").alias("id"), "ncomm")
            .agg(F.sum("weight").alias("w_in"))
        )
        # eager materialization: `cand` feeds both `own` and `scored`; the
        # doubled join subtree sends Catalyst's join-selection planning into
        # a combinatorial blow-up on some shapes (observed wedged in
        # SizeInBytesOnlyStatsPlanVisitor) — a shallow scan keeps every
        # planning unit trivial
        cand = (
            w_to.join(comm, "id")
            .join(k, "id")
            .join(ktot.withColumnRenamed("comm", "ncomm").withColumnRenamed("ktot", "ntot"), "ncomm")
            .join(ktot, "comm")
        ).localCheckpoint(eager=True)
        # gain of moving i from comm → ncomm (standard Louvain delta, constant
        # terms dropped): w_in(ncomm) − k_i·Σtot(ncomm)/2m, compared against
        # staying: w_in(own) − k_i·(Σtot(own)−k_i)/2m
        own = cand.filter(F.col("ncomm") == F.col("comm")).select(
            "id", F.col("w_in").alias("w_own")
        )
        scored = (
            cand.join(own, "id", "left")
            .withColumn("w_own", F.coalesce("w_own", F.lit(0.0)))
            .withColumn(
                "gain",
                (F.col("w_in") - F.col("k") * F.col("ntot") / F.lit(m2))
                - (
                    F.col("w_own")
                    - F.col("k") * (F.col("ktot") - F.col("k")) / F.lit(m2)
                ),
            )
            .filter(F.col("ncomm") != F.col("comm"))
        )
        win = Window.partitionBy("id").orderBy(F.desc("gain"), F.asc("ncomm"))
        best = (
            scored.withColumn("_rn", F.row_number().over(win))
            .filter((F.col("_rn") == 1) & (F.col("gain") > 1e-12))
            # parity alternation: symmetric pairs would otherwise swap
            # communities every synchronous round and oscillate forever
            .filter(F.pmod(F.col("id"), F.lit(2)) == rnd % 2)
            .select("id", F.col("ncomm").alias("new_comm"))
            .localCheckpoint(eager=True)
        )
        moved = best.limit(1).count()
        if moved == 0:
            stable += 1
            if stable >= 2:
                break
            continue
        stable = 0
        comm = (
            comm.join(best, "id", "left")
            .select("id", F.coalesce("new_comm", "comm").alias("comm"))
            .localCheckpoint(eager=True)
        )
    return comm


def modularity(edges_und: DataFrame, comm: DataFrame, m2: float) -> float:
    """Exact Q for an undirected both-direction edge table."""
    lbl_s = comm.select(F.col("id").alias("src"), F.col("comm").alias("cs"))
    lbl_d = comm.select(F.col("id").alias("dst"), F.col("comm").alias("cd"))
    w_in = (
        edges_und.join(lbl_s, "src")
        .join(lbl_d, "dst")
        .filter(F.col("cs") == F.col("cd"))
        .agg(F.sum("weight"))
        .first()[0]
        or 0.0
    )
    k = edges_und.groupBy(F.col("src").alias("id")).agg(F.sum("weight").alias("k"))
    ktot = (
        comm.join(k, "id").groupBy("comm").agg(F.sum("k").alias("kt"))
    )
    sq = ktot.agg(F.sum(F.col("kt") * F.col("kt"))).first()[0] or 0.0
    return w_in / m2 - sq / (m2 * m2)


def louvain(
    graph: Graph,
    max_levels: int = 5,
    move_rounds: int = 10,
    seed_col: str | None = None,
    include_intermediate: bool = False,
):
    """→ (id, community) [+ .levels list of per-level assignments].

    Runs move+coarsen until modularity stops improving or max_levels.
    Level 1 runs distributed when the edge table is over the driver
    crossover (``blocks.collect_if_small``); coarsened levels (and small
    graphs outright) run the exact numpy kernel on the driver.
    """
    spark = graph.nodes.sparkSession
    und = (
        graph.undirected_edges()
        .filter(F.col("src") != F.col("dst"))
        .localCheckpoint(eager=True)
    )
    m2 = und.agg(F.sum("weight")).first()[0] or 1.0
    nodes = graph.nodes

    def _result(mapping_df: DataFrame, q: float, levels):
        result = mapping_df.select("id", F.col("comm").alias("community"))
        result.levels = (
            [lv.select("id", F.col("comm").alias("community")) for lv in levels]
            if include_intermediate
            else None
        )
        result.final_modularity = q
        return result

    local = _collect_edges(und)
    if local is not None:
        # ---- all-driver path (small graph / tests / contract scale)
        src, dst, w, ids = local
        n = len(ids)
        init = None
        seed_label_ids = None
        if seed_col is not None and seed_col in nodes.columns:
            seeds = (
                nodes.select("id", F.col(seed_col).cast("long").alias("s"))
                .toPandas()
            )
            raw = ids.copy()  # default init community: own id
            nid = seeds["id"].to_numpy(np.int64)
            sval = seeds["s"].to_numpy(np.float64)
            keep = (~np.isnan(sval)) & np.isin(nid, ids)
            raw[np.searchsorted(ids, nid[keep])] = sval[keep].astype(np.int64)
            # factorize to dense labels in [0, n); np.unique is
            # order-preserving so min-id tiebreaks match raw label order
            seed_label_ids, init = np.unique(raw, return_inverse=True)
            init = init.astype(np.int64)
        mapping, lv_np, q = _np_louvain(
            src, dst, w, n, m2, max_levels, move_rounds, init_comm=init,
            node_ids=ids,
            init_label_ids=seed_label_ids,
        )
        import pandas as pd

        out_pdf = pd.DataFrame({"id": ids, "comm": ids[mapping]})
        mdf = spark.createDataFrame(out_pdf)
        # isolated nodes (no edges) keep their own id as community
        mdf = (
            nodes.select("id")
            .join(mdf, "id", "left")
            .select("id", F.coalesce("comm", "id").alias("comm"))
        )
        levels = []
        if include_intermediate:
            for lv in lv_np:
                canon = _canon_level(lv, n)
                ldf = spark.createDataFrame(
                    pd.DataFrame({"id": ids, "comm": ids[canon]})
                )
                levels.append(
                    nodes.select("id")
                    .join(ldf, "id", "left")
                    .select("id", F.coalesce("comm", "id").alias("comm"))
                )
        return _result(mdf, q, levels)

    # ---- distributed level 1, then driver for the coarsened levels
    if seed_col is not None and seed_col in nodes.columns:
        comm = nodes.select(
            "id", F.coalesce(F.col(seed_col).cast("long"), F.col("id")).alias("comm")
        )
    else:
        comm = nodes.select("id", F.col("id").alias("comm"))
    comm = comm.localCheckpoint(eager=True)

    def _contract(edges_df: DataFrame, mapping_df: DataFrame) -> DataFrame:
        lbl_s = mapping_df.select(F.col("id").alias("src"), F.col("comm").alias("cs"))
        lbl_d = mapping_df.select(F.col("id").alias("dst"), F.col("comm").alias("cd"))
        return (
            edges_df.join(lbl_s, "src")
            .join(lbl_d, "dst")
            .groupBy(F.col("cs").alias("src"), F.col("cd").alias("dst"))
            .agg(F.sum("weight").alias("weight"))
            .localCheckpoint(eager=True)
        )

    mapping = _move_phase(und, comm, m2, move_rounds)
    levels = [mapping]
    q1 = modularity(und, mapping, m2)
    coarse = _contract(und, mapping)
    # If level 1 barely contracted (oscillation, exhausted move_rounds,
    # near-singleton communities), the coarsened table can still be over
    # the driver crossover — collecting it could OOM the driver. Keep
    # running DISTRIBUTED move+contract levels until it fits (or levels
    # run out).
    levels_left = max_levels - 1
    while levels_left > 0 and (local := _collect_edges(coarse, count_first=True)) is None:
        snodes = (
            coarse.select(F.col("src").alias("id"))
            .unionByName(coarse.select(F.col("dst").alias("id")))
            .distinct()
        )
        ccomm = snodes.select("id", F.col("id").alias("comm")).localCheckpoint(eager=True)
        cres = _move_phase(coarse, ccomm, m2, move_rounds)
        super_lbl = cres.select(F.col("id").alias("comm"), F.col("comm").alias("final"))
        new_mapping = (
            mapping.join(super_lbl, "comm", "left")
            .select("id", F.coalesce("final", "comm").alias("comm"))
            .localCheckpoint(eager=True)
        )
        new_q = modularity(und, new_mapping, m2)
        levels_left -= 1
        if new_q <= q1 + 1e-9:
            # no modularity gain at this level: we're done — return the
            # current (distributed) assignment without ever collecting
            return _result(mapping, q1, levels if include_intermediate else [])
        mapping, q1 = new_mapping, new_q
        levels.append(mapping)
        coarse = _contract(coarse, cres)
    if levels_left > 0:
        csrc, cdst, cw, cids = local
        cn = len(cids)
        cmap, _, q = _np_louvain(csrc, cdst, cw, cn, m2, levels_left, move_rounds,
                                 node_ids=cids)
        import pandas as pd

        super_pdf = pd.DataFrame({"comm": cids, "final": cids[cmap]})
        super_df = spark.createDataFrame(super_pdf)
        mapping = (
            # left join: communities absent from the coarsened edge table
            # (isolated / self-loop-only) keep their level-1 label
            mapping.join(super_df, "comm", "left")
            .select("id", F.coalesce("final", "comm").alias("comm"))
            .localCheckpoint(eager=True)
        )
        if q <= q1:
            q = q1
        levels.append(mapping)
    else:
        q = q1
    return _result(mapping, q, levels if include_intermediate else [])
