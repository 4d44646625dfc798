"""Multi-source BFS + closeness/harmonic centrality.

Reference: `core/src/main/java/org/neo4j/graphalgo/core/utils/msbfs/
MultiSourceBFS.java` (bitset-parallel ANP, Then et al. VLDB'15) consumed by
`algo/.../impl/closeness/{MSClosenessCentrality,HarmonicCentrality,
DangalchevClosenessCentrality}.java`.

Spark-native form: sources are packed 64-per-int64-bitset into **chunks**
and the frontier is ONE DataFrame (chunk, node, source_bits) carrying every
chunk — all ⌈n/64⌉ chunks advance together, so the driver synchronizes one
job per BFS LEVEL (graph diameter), not per level × chunk. The combine is
``groupBy(chunk, node).agg(bit_or)`` — the DataFrame analogue of ANP's
bitwise frontier union. Per-level distance increments accumulate lazily
(union of per-level popcount deltas, aggregated once at the end), so the
whole run is 2 actions per level + 1 final aggregation.

State size is n × ⌈n/64⌉ bitset rows — inherent to all-pairs BFS; at very
large n use sampled closeness (sample sources, scale sums by n/|S|).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from linkgraph.graph import Graph

_BIT_EXPR = (
    "CASE WHEN bitpos = 63 THEN -9223372036854775808 "
    "ELSE shiftleft(1L, bitpos) END"
)


def _assign_chunks(nodes: DataFrame, sample=None) -> DataFrame:
    """→ (id, chunk, bitpos, bits): contiguous enumeration of source nodes
    packed 64 per chunk. Uses RDD zipWithIndex (two jobs, no single-partition
    window shuffle)."""
    src_nodes = nodes.select("id")
    if sample is not None:
        src_nodes = sample.select("id")
    spark = src_nodes.sparkSession
    rdd = src_nodes.orderBy("id").rdd.map(lambda r: r[0]).zipWithIndex()
    df = spark.createDataFrame(
        rdd.map(lambda t: (int(t[0]), int(t[1] // 64), int(t[1] % 64))),
        "id long, chunk int, bitpos int",
    )
    return df.withColumn("bits", F.expr(_BIT_EXPR))


def _level_sync_msbfs(edges: DataFrame, assign: DataFrame, max_depth: int | None):
    """Generator of (depth, new_bits_df) where new_bits_df = (chunk, id,
    bits) newly-visited this level. Caller consumes until exhausted."""
    frontier = assign.select("chunk", "id", "bits").localCheckpoint(eager=True)
    visited = frontier.withColumnRenamed("bits", "vbits")
    depth = 0
    while True:
        depth += 1
        if max_depth is not None and depth > max_depth:
            return
        agg = (
            edges.join(frontier, edges.src == frontier.id)
            .groupBy("chunk", F.col("dst").alias("id"))
            .agg(F.expr("bit_or(bits)").alias("nbits"))
        )
        # ONE JOB per level (r6): both checkpoints are LAZY and the
        # frontier count() is the single action that materializes them —
        # merged (visited ⟗ new-arrivals) carries the newly-set bits and
        # the visited update as cheap projections, and nxt is the
        # frontier-sized slice consumers keep per level (without it every
        # level would pin the full visited-size checkpoint until the
        # end-of-run union). count(), not isEmpty(): a take(1)-style
        # action could complete the lazy checkpoints having computed only
        # some partitions.
        merged = (
            visited.join(agg, ["chunk", "id"], "outer")
            .select(
                "chunk",
                "id",
                F.expr("coalesce(vbits, 0L)").alias("vbits"),
                F.expr("coalesce(nbits, 0L) & ~coalesce(vbits, 0L)").alias("bits"),
            )
            .localCheckpoint(eager=False)
        )
        nxt = (
            merged.filter(F.col("bits") != 0)
            .select("chunk", "id", "bits")
            .localCheckpoint(eager=False)
        )
        if nxt.count() == 0:
            return
        yield depth, nxt
        visited = merged.select(
            "chunk", "id", F.expr("vbits | bits").alias("vbits")
        )
        frontier = nxt


def _msbfs_sums_local(edges: DataFrame, nodes: DataFrame, max_depth, mode):
    """Driver-local bitset MSBFS below the driver crossover (r6) — the
    same hybrid crossover as union-find / the pull engine. IDENTICAL
    arithmetic to the distributed path: the same 64-sources-per-word
    bitsets, one OR-propagation per level (np.bitwise_or.reduceat over a
    dst-sorted edge array), popcount deltas accumulated per (node,
    depth) with the same increment formulas — reachable counts are exact
    ints and dist_sum products/sums are the same float64 ops, so outputs
    are value-identical. Returns None when the edge or the node table is
    over the driver crossover (the chunked distributed MSBFS is unchanged
    and remains the at-scale path)."""
    import numpy as np

    from linkgraph.algorithms.blocks import collect_if_small

    epd = collect_if_small(edges)
    node_pd = None if epd is None else collect_if_small(nodes)
    if node_pd is None:
        return None
    spark = nodes.sparkSession
    ids = np.sort(node_pd["id"].to_numpy(np.int64))
    n = len(ids)
    if n == 0:
        return spark.createDataFrame([], "id long, reachable long, dist_sum double")
    src = np.searchsorted(ids, epd["src"].to_numpy(np.int64))
    dst = np.searchsorted(ids, epd["dst"].to_numpy(np.int64))
    order = np.argsort(dst, kind="stable")
    src, dst = src[order], dst[order]
    dst_uniq, dst_start = np.unique(dst, return_index=True)
    W = max(1, -(-n // 64))
    visited = np.zeros((n, W), dtype=np.uint64)
    rows = np.arange(n)
    visited[rows, rows >> 6] = np.uint64(1) << (rows & 63).astype(np.uint64)
    frontier = visited.copy()
    lut = np.zeros(65536, dtype=np.int64)
    for k in range(16):
        lut += (np.arange(65536) >> k) & 1
    lut16 = lut.astype(np.uint16)
    reachable = np.zeros(n, dtype=np.int64)
    dist_sum = np.zeros(n, dtype=np.float64)
    depth = 0
    while True:
        depth += 1
        if max_depth is not None and depth > max_depth:
            break
        if len(src):
            gathered = np.bitwise_or.reduceat(frontier[src], dst_start, axis=0)
        else:
            break
        new = np.zeros_like(visited)
        new[dst_uniq] = gathered
        newly = new & ~visited
        active = newly.any(axis=1)
        if not active.any():
            break
        r_inc = (
            lut16[newly[active].view(np.uint16)]
            .reshape(active.sum(), W * 4)
            .sum(axis=1)
            .astype(np.int64)
        )
        reachable[active] += r_inc
        if mode == "harmonic":
            dist_sum[active] += r_inc.astype(np.float64) / depth
        elif mode == "dangalchev":
            dist_sum[active] += r_inc.astype(np.float64) * (2.0 ** -depth)
        else:
            dist_sum[active] += r_inc.astype(np.float64) * depth
        visited |= newly
        frontier = newly
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame({"id": ids, "reachable": reachable, "dist_sum": dist_sum})
    )


def msbfs_distance_sums(
    graph: Graph,
    direction: str = "BOTH",
    max_depth: int | None = None,
    mode: str = "closeness",
    source_sample: float | None = None,
    seed: int = 42,
) -> DataFrame:
    """→ (id, reachable, dist_sum) per node over all sources (exact BFS).

    mode='closeness': dist_sum = Σ d;  'harmonic': Σ 1/d;  'dangalchev':
    Σ 2^-d. All bitset chunks advance in one job per level.

    `source_sample` < 1 runs BFS from a seeded node sample S and scales
    both sums by n/|S| (Eppstein–Wang-style estimator) — the at-scale path
    where exact all-sources closeness is Θ(nm); columns become double.
    """
    if direction == "BOTH":
        edges = graph.undirected_edges().select("src", "dst")
    else:
        edges = graph.edges.select("src", "dst")
    edges = edges.filter(F.col("src") != F.col("dst")).persist()
    nodes = graph.nodes.select("id")
    if source_sample is None:
        out = _msbfs_sums_local(edges, nodes, max_depth, mode)
        if out is not None:
            edges.unpersist()
            return out
    scale = 1.0
    if source_sample is not None and source_sample < 1.0:
        srcs = nodes.sample(fraction=source_sample, seed=seed)
        n_s = srcs.count()
        if n_s == 0:
            srcs, n_s = nodes.limit(1), 1
        scale = nodes.count() / n_s
        assign = _assign_chunks(nodes, sample=srcs)
    else:
        assign = _assign_chunks(nodes)

    deltas = []
    for depth, nxt in _level_sync_msbfs(edges, assign, max_depth):
        deltas.append(
            nxt.groupBy("id")
            .agg(F.sum(F.bit_count("bits").cast("long")).alias("r_inc"))
            .withColumn("depth", F.lit(depth).cast("long"))
        )
    edges.unpersist()
    if not deltas:
        return nodes.select(
            "id", F.lit(0).cast("long").alias("reachable"), F.lit(0.0).alias("dist_sum")
        )
    all_d = deltas[0]
    for d in deltas[1:]:
        all_d = all_d.unionByName(d)
    if mode == "harmonic":
        d_inc = F.col("r_inc").cast("double") / F.col("depth")
    elif mode == "dangalchev":
        d_inc = F.col("r_inc").cast("double") * F.pow(F.lit(2.0), -F.col("depth").cast("double"))
    else:
        d_inc = F.col("r_inc").cast("double") * F.col("depth")
    sums = all_d.groupBy("id").agg(
        F.sum("r_inc").alias("reachable"), F.sum(d_inc).alias("dist_sum")
    )
    if scale != 1.0:
        return (
            nodes.join(sums, "id", "left")
            .select(
                "id",
                (F.coalesce("reachable", F.lit(0)) * F.lit(scale))
                .cast("double")
                .alias("reachable"),
                (F.coalesce("dist_sum", F.lit(0.0)) * F.lit(scale)).alias("dist_sum"),
            )
        )
    return (
        nodes.join(sums, "id", "left")
        .select(
            "id",
            F.coalesce("reachable", F.lit(0)).cast("long").alias("reachable"),
            F.coalesce("dist_sum", F.lit(0.0)).alias("dist_sum"),
        )
    )


def closeness_centrality(
    graph: Graph,
    improved: bool = False,
    direction: str = "BOTH",
    source_sample: float | None = None,
    seed: int = 42,
) -> DataFrame:
    """`algo.closeness` — MSClosenessCentrality semantics.

    Standard: C(v) = (n−1) / Σ d(v,·) over reachable targets.
    improved (Wasserman–Faust): scaled by (reachable / (n−1)).
    Unreachable/isolated → 0. `source_sample` < 1 → sampled estimator
    (the at-scale path; exact all-sources is Θ(nm)).
    """
    acc = msbfs_distance_sums(
        graph,
        direction=direction,
        mode="closeness",
        source_sample=source_sample,
        seed=seed,
    )
    n = graph.nodes.count()
    base = F.when(
        F.col("dist_sum") > 0, (F.lit(float(n - 1))) / F.col("dist_sum")
    ).otherwise(0.0)
    if improved:
        score = F.when(
            F.col("dist_sum") > 0,
            (F.col("reachable").cast("double") / F.lit(float(max(n - 1, 1))))
            * (F.col("reachable").cast("double") / F.col("dist_sum")),
        ).otherwise(0.0)
    else:
        score = base
    return acc.select("id", score.alias("centrality"))


def harmonic_centrality(graph: Graph, direction: str = "BOTH") -> DataFrame:
    """`algo.closeness.harmonic` — C(v) = Σ 1/d(v,u) / (n−1)."""
    acc = msbfs_distance_sums(graph, direction=direction, mode="harmonic")
    n = graph.nodes.count()
    return acc.select(
        "id", (F.col("dist_sum") / F.lit(float(max(n - 1, 1)))).alias("centrality")
    )


def dangalchev_closeness(graph: Graph, direction: str = "BOTH") -> DataFrame:
    """`algo.closeness.dangalchev` — C(v) = Σ 2^−d(v,u)."""
    acc = msbfs_distance_sums(graph, direction=direction, mode="dangalchev")
    return acc.select("id", F.col("dist_sum").alias("centrality"))


def all_shortest_paths_stream(
    graph: Graph, direction: str = "BOTH", max_depth: int | None = None
) -> DataFrame:
    """`algo.allShortestPaths.stream` (unweighted) → (source, target, distance).

    Chunked MSBFS; emits each reached (source,target) pair once at its BFS
    level by exploding the newly-set bits against the (chunk, bitpos) →
    source map.
    """
    if direction == "BOTH":
        edges = graph.undirected_edges().select("src", "dst")
    else:
        edges = graph.edges.select("src", "dst")
    edges = edges.filter(F.col("src") != F.col("dst")).persist()
    nodes = graph.nodes.select("id")
    assign = _assign_chunks(nodes)
    src_map = assign.select(
        "chunk", F.col("bitpos").alias("bit"), F.col("id").alias("source")
    ).localCheckpoint(eager=True)

    outs = []
    for depth, nxt in _level_sync_msbfs(edges, assign, max_depth):
        hits = (
            nxt.select(
                "chunk",
                F.col("id").alias("target"),
                F.explode(
                    F.expr(
                        "filter(transform(sequence(0, 63), "
                        "j -> CASE WHEN (bits & (CASE WHEN j = 63 THEN "
                        "-9223372036854775808 ELSE shiftleft(1L, j) END)) != 0 "
                        "THEN j END), x -> x IS NOT NULL)"
                    )
                ).alias("bit"),
            )
            .join(src_map, ["chunk", "bit"])
            .select("source", "target", F.lit(depth).cast("long").alias("distance"))
        )
        outs.append(hits)
    edges.unpersist()
    spark = nodes.sparkSession
    if not outs:
        return spark.createDataFrame([], "source long, target long, distance long")
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def weighted_all_shortest_paths(
    graph: Graph,
    direction: str = "BOTH",
    store_path: str | None = None,
) -> DataFrame:
    """Weighted `algo.allShortestPaths.stream` → (source, target, distance).

    Reference `impl/WeightedAllShortestPaths.java`: per-source Dijkstra,
    parallel across sources. Spark form: sources fan out across tasks; each
    Arrow task runs Dijkstra over the worker-resident global CSR (built
    distributed via blocks.open_store, RAW weights) — same store
    pattern as Brandes. Weights must be ≥ 0.
    """
    import heapq

    import numpy as np
    import pandas as pd

    from linkgraph.algorithms import blocks
    from linkgraph.algorithms.betweenness import _ensure_store, _materialized_on

    # Dijkstra's correctness contract — one cheap aggregate, fail loudly
    # instead of silently returning wrong distances on a negative weight.
    min_w = graph.edges.agg(F.min("weight")).first()[0]
    if min_w is not None and min_w < 0:
        raise ValueError(
            f"weighted_all_shortest_paths requires non-negative weights; "
            f"found min(weight) = {min_w}"
        )

    path, n_arr = _ensure_store(graph, direction, store_path)

    def run(batches):
        indptr, indices, w = blocks.load_global_csr(path, n_arr, raw_weights=True)
        for pdf in batches:
            out_s, out_t, out_d = [], [], []
            for s in pdf["source"].to_numpy("int64"):
                s = int(s)
                dist = np.full(n_arr, np.inf)
                dist[s] = 0.0
                heap = [(0.0, s)]
                done = np.zeros(n_arr, bool)
                while heap:
                    d, u = heapq.heappop(heap)
                    if done[u]:
                        continue
                    done[u] = True
                    lo, hi = indptr[u], indptr[u + 1]
                    nbrs = indices[lo:hi]
                    cand = d + w[lo:hi]
                    better = cand < dist[nbrs]
                    for v, nd in zip(nbrs[better], cand[better]):
                        # re-check: parallel edges to the same neighbor can
                        # both pass the vectorized mask; keep only the min
                        if nd < dist[v]:
                            dist[v] = nd
                            heapq.heappush(heap, (float(nd), int(v)))
                reached = np.flatnonzero(np.isfinite(dist))
                reached = reached[reached != s]
                out_s.extend([s] * len(reached))
                out_t.extend(reached.tolist())
                out_d.extend(dist[reached].tolist())
            yield pd.DataFrame({"source": out_s, "target": out_t, "distance": out_d})

    sources = graph.nodes.select(F.col("id").alias("source"))
    b = graph.nodes.sparkSession.sparkContext.defaultParallelism
    dists = sources.repartition(b).mapInPandas(
        run, schema="source long, target long, distance double"
    )
    return _materialized_on(path, dists)
