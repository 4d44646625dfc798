"""ANF — Approximate Neighborhood Function and effective diameter.

Palmer, Gibbons & Faloutsos, "ANF: a fast and scalable tool for data mining
in massive graphs" (KDD 2002); the HyperLogLog refinement is Boldi, Rosa &
Vigna's HyperANF (WWW 2011). The neighborhood function
N(h) = Σ_v |{u : dist(v,u) ≤ h}| is THE summary statistic for web-scale
graphs — it yields the effective diameter (smallest h with N(h) ≥ q·N(∞)),
average distance, and the small-world profile — and computing it exactly is
an all-pairs BFS (O(n·m)), hopeless past millions of nodes.

ANF replaces each node's reachable SET with R Flajolet-Martin bitmasks:
union becomes bitwise OR, so one round is
``sketch_h(v) = sketch_{h-1}(v) OR ⋁_{v→u} sketch_{h-1}(u)`` — an
associative, fixed-width message that Spark aggregates map-side. Everything
stays in whole-stage codegen: the geometric bit position is
``log2(h & -h)`` of an xxhash64, the per-round union is ``bit_or`` grouped
by (node, trial), convergence is "no sketch changed". R trials cost R rows
per node per round — the shuffle is O(R·m) longs, never the O(n²)
distance matrix.

Reference anchor: the reference has no neighborhood-function proc (its
closeness/diameter answers come from exact MSBFS); ANF is the engine-added
estimator that survives where exact all-pairs cannot. The exact twin for
tests is msbfs.all_shortest_paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from linkgraph.graph import Graph

# Flajolet-Martin bias correction: E[2^b] ≈ 0.77351 · |S|
_FM_PHI = 0.77351


def _init_sketches(nodes: DataFrame, num_trials: int) -> DataFrame:
    """(id, trial, mask) — one 64-bit FM bitmask per (node, trial), with the
    node's own bit set at a geometric position: p = #trailing zeros of a
    per-trial xxhash64 (hash 0 → position 63 sentinel, prob 2^-64)."""
    t = F.explode(F.sequence(F.lit(0), F.lit(num_trials - 1))).alias("trial")
    h = F.xxhash64(F.col("id"), F.col("trial"))
    low = h.bitwiseAND(-h)
    # low == Long.MIN_VALUE when the lowest set bit is bit 63: abs() would
    # overflow, so map that case directly; hash 0 → sentinel position 63
    pos = (
        F.when((h == 0) | (low == F.lit(-(1 << 63)).cast("long")), F.lit(63))
        .otherwise(F.floor(F.log2(F.abs(low).cast("double"))))
        .cast("int")
    )
    # shiftleft() takes a Python-int bit count — a per-row shift needs the
    # SQL form over a named column
    return (
        nodes.select("id", t)
        .select("id", "trial", pos.alias("pos"))
        .select("id", "trial", F.expr("shiftleft(CAST(1 AS BIGINT), pos)").alias("mask"))
    )


def _estimate(sketches: DataFrame) -> DataFrame:
    """(id, est) — FM cardinality estimate per node: 2^mean(b) / φ where b
    is the position of the lowest UNSET bit of each trial's mask."""
    m = F.col("mask")
    # lowest zero bit of m == lowest set bit of ~m
    inv = F.bitwise_not(m)
    low = inv.bitwiseAND(-inv)
    b = (
        F.when(inv == 0, F.lit(63.0))  # all-ones mask: saturated sketch
        .when(low == F.lit(-(1 << 63)).cast("long"), F.lit(63.0))
        .otherwise(F.floor(F.log2(F.abs(low).cast("double"))).cast("double"))
    )
    return (
        sketches.select("id", b.alias("b"))
        .groupBy("id")
        .agg((F.pow(F.lit(2.0), F.avg("b")) / F.lit(_FM_PHI)).alias("est"))
    )


def _anf_curve_local(edges: DataFrame, sk: DataFrame, max_h: int):
    """Driver-local sketch propagation below the driver crossover (r6) —
    the union-find / pull-engine hybrid crossover applied to ANF. The
    initial FM bitmasks are still the Spark-computed xxhash64 sketches
    (collected once: n×R longs); each hop is then one dst-grouped OR
    (np.bitwise_or.reduceat) instead of ~4 exchanges, with bit-identical
    masks (OR is order-free) and the same estimate arithmetic (b = 63 −
    sentinel cases or trailing zeros of ~mask, est = 2^mean(b)/φ — all
    exact small-int sums). Returns None when the edge list or the n×R
    sketch table is over the driver crossover, or when the edge list
    references ids outside the node set (the distributed loop's outer-join
    semantics differ there)."""
    import numpy as np

    from linkgraph.algorithms.blocks import collect_if_small

    epd = collect_if_small(edges)
    sk_pd = None if epd is None else collect_if_small(sk)
    if sk_pd is None:
        return None
    ids = np.sort(sk_pd["id"].unique().astype(np.int64))
    n = len(ids)
    R = int(sk_pd["trial"].max()) + 1 if n else 1
    masks = np.zeros((n, R), dtype=np.int64)
    masks[
        np.searchsorted(ids, sk_pd["id"].to_numpy(np.int64)),
        sk_pd["trial"].to_numpy(np.int64),
    ] = sk_pd["mask"].to_numpy(np.int64)
    es, ed = epd["_s"].to_numpy(np.int64), epd["_d"].to_numpy(np.int64)
    ps, pd_ = np.searchsorted(ids, es), np.searchsorted(ids, ed)
    ok = (
        (ps < n) & (pd_ < n)
        & (ids[np.minimum(ps, n - 1)] == es)
        & (ids[np.minimum(pd_, n - 1)] == ed)
    )
    if len(es) and not ok.all():
        return None  # stray endpoints: distributed outer-join semantics
    order = np.argsort(ps, kind="stable")
    ps, pd_ = ps[order], pd_[order]
    s_uniq, s_start = (
        (np.unique(ps, return_index=True)) if len(ps) else (ps, ps)
    )
    lut = np.zeros(65536, dtype=np.int64)
    for k in range(16):
        lut += (np.arange(65536) >> k) & 1
    lut16 = lut.astype(np.uint16)

    def est_sum(m: np.ndarray) -> float:
        inv = ~m
        low = inv & (-inv)
        b = lut16[(low - 1).view(np.uint16)].reshape(n, R, 4).sum(axis=2)
        b = np.where(inv == 0, 63, b).astype(np.float64)
        return float((np.power(2.0, b.mean(axis=1)) / _FM_PHI).sum())

    curve = [(0, float(n))]
    stable_hops = 0
    for h in range(1, max_h + 1):
        if len(ps):
            gathered = np.bitwise_or.reduceat(masks[pd_], s_start, axis=0)
            new = masks.copy()
            new[s_uniq] |= gathered
        else:
            new = masks
        masks = new
        est = est_sum(masks)
        curve.append((h, est))
        if abs(est - curve[-2][1]) <= 1e-9 * max(est, 1.0):
            stable_hops += 1
            if stable_hops >= 2:
                break
        else:
            stable_hops = 0
    return curve


def neighborhood_function(
    graph: Graph,
    max_h: int = 32,
    num_trials: int = 16,
) -> DataFrame:
    """→ (h, neighborhood_estimate) for h = 0..H where H is the first hop
    at which every sketch is stable (≙ estimated N(h) has converged) or
    ``max_h``. N(0) = n exactly (each node reaches itself).

    One bit_or shuffle per hop over (node, trial) keys — O(R·m) longs —
    plus a localCheckpoint to keep the plan flat; identical structure at
    every scale, no driver-side state beyond the H×1 curve itself.
    """
    spark = graph.edges.sparkSession
    n0 = graph.num_nodes()
    if n0 == 0:
        # empty graph: no sketch rows exist, so the estimate aggregate
        # below would be NULL — N(0) = 0 is the whole curve
        return spark.createDataFrame(
            [(0, 0.0)], "h int, neighborhood_estimate double"
        )
    edges = graph.edges.select(
        F.col("src").alias("_s"), F.col("dst").alias("_d")
    )
    sk = _init_sketches(graph.nodes.select("id"), num_trials).localCheckpoint(
        eager=True
    )
    curve_local = _anf_curve_local(edges, sk, max_h)
    if curve_local is not None:
        return spark.createDataFrame(
            [(h, round(v, 3)) for h, v in curve_local],
            "h int, neighborhood_estimate double",
        )
    curve = [(0, float(n0))]
    stable_hops = 0
    for h in range(1, max_h + 1):
        nbr = (
            edges.join(sk.withColumnRenamed("id", "_d"), "_d")
            .select(F.col("_s").alias("id"), "trial", "mask")
        )
        # lazy checkpoint + ONE action per hop (r6): the estimate
        # aggregate is a full scan, so it both materializes the hop's
        # sketch table and returns the convergence scalar — previously
        # the eager checkpoint and the estimate were two jobs per hop
        sk = (
            sk.unionByName(nbr)
            .groupBy("id", "trial")
            .agg(F.bit_or("mask").alias("mask"))
            .localCheckpoint(eager=False)
        )
        est = float(
            _estimate(sk).agg(F.coalesce(F.sum("est"), F.lit(0.0))).collect()[0][0]
        )
        curve.append((h, est))
        # estimate-sum plateau is only a NECESSARY sign of the sketch
        # fixpoint: a hop can grow masks without moving any trial's lowest
        # unset bit (estimates unchanged, reachable sets still growing), so
        # one flat hop must not stop the loop. Require TWO consecutive flat
        # hops — a growing frontier that stays estimate-invariant twice in a
        # row is vanishingly unlikely across R trials, and the true fixpoint
        # always satisfies it. 1e-9 relative tolerance sits between FP
        # summation jitter (~1e-15) and the smallest real estimate change
        # (one trial's mean bit position moving 1/R on one node).
        if abs(est - curve[-2][1]) <= 1e-9 * max(est, 1.0):
            stable_hops += 1
            if stable_hops >= 2:
                break
        else:
            stable_hops = 0
    return spark.createDataFrame(
        [(h, round(v, 3)) for h, v in curve], "h int, neighborhood_estimate double"
    )


def effective_diameter(
    graph: Graph,
    quantile: float = 0.9,
    max_h: int = 32,
    num_trials: int = 16,
) -> DataFrame:
    """→ one row (effective_diameter, max_hop, n_reachable_pairs_est) — the
    smallest hop h with N(h) ≥ quantile · N(max), linearly interpolated
    between the bracketing hops (the standard HyperANF reporting)."""
    nf = neighborhood_function(graph, max_h=max_h, num_trials=num_trials)
    rows = sorted((r["h"], r["neighborhood_estimate"]) for r in nf.collect())
    n_max = rows[-1][1]
    target = quantile * n_max
    eff = float(rows[-1][0])
    for (h0, v0), (h1, v1) in zip(rows, rows[1:]):
        if v1 >= target:
            eff = h0 + (target - v0) / (v1 - v0) if v1 > v0 else float(h0)
            break
    spark = graph.edges.sparkSession
    return spark.createDataFrame(
        [(round(eff, 3), rows[-1][0], round(n_max, 3))],
        "effective_diameter double, max_hop int, n_reachable_pairs_est double",
    )
