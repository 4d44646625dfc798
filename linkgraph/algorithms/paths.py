"""Path finding — `algo.shortestPath*`, `algo.bfs/dfs`, `algo.spanningTree`.

Reference files: `algo/.../impl/{ShortestPathDijkstra,ShortestPathAStar,
ShortestPathDeltaStepping,ShortestPaths,Traverse}.java`,
`algo/.../impl/yens/YensKShortestPaths.java`,
`algo/.../impl/spanningTrees/{Prim,KSpanningTree}.java`.

Spark mapping (SURVEY.md §2.3/§2.8):

* single-pair Dijkstra / A* / Yen's — inherently sequential; run driver-side
  over a collected CSR (the graphs these are called on fit; the reference
  also runs them single-threaded). Results return as DataFrames.
* SSSP at scale — **delta-stepping as iterative bucketed join + min-agg**
  (a natural DataFrame fixpoint, parallel per bucket).
* BFS/DFS stream — iterative frontier joins with `left_anti` visited
  subtraction.
* MST — **Borůvka** (not Prim: Borůvka's min-edge-per-component +
  connected-components merge is the shuffle-friendly formulation).
"""

from __future__ import annotations

import heapq

import numpy as np

from pyspark.sql import DataFrame, functions as F

from linkgraph.algorithms import blocks
from linkgraph.graph import Graph


# ------------------------------------------------------------ driver-side CSR
def _collect_csr(graph: Graph, direction: str = "OUTGOING"):
    edges = graph.undirected_edges() if direction == "BOTH" else graph.edges
    pdf = edges.select("src", "dst", "weight").toPandas()
    src = pdf["src"].to_numpy(np.int64)
    order = np.argsort(src, kind="stable")
    src = src[order]
    dst = pdf["dst"].to_numpy(np.int64)[order]
    w = pdf["weight"].to_numpy(np.float64)[order]
    uniq, counts = np.unique(src, return_counts=True)
    indptr = dict(zip(uniq.tolist(), np.cumsum(np.concatenate(([0], counts[:-1])))))
    return uniq, dict(zip(uniq.tolist(), counts.tolist())), indptr, dst, w


def _dijkstra(adj_index, start: int, target: int | None = None):
    uniq, counts, indptr, dst, w = adj_index
    dist = {start: 0.0}
    prev: dict[int, int] = {}
    heap = [(0.0, start)]
    done = set()
    while heap:
        d, u = heapq.heappop(heap)
        if u in done:
            continue
        done.add(u)
        if target is not None and u == target:
            break
        if u in indptr:
            lo = indptr[u]
            for k in range(lo, lo + counts[u]):
                v, dw = int(dst[k]), float(w[k])
                nd = d + dw
                if nd < dist.get(v, float("inf")):
                    dist[v] = nd
                    prev[v] = u
                    heapq.heappush(heap, (nd, v))
    return dist, prev


def _path_to(prev: dict, start: int, target: int) -> list[int] | None:
    if target != start and target not in prev:
        return None
    path = [target]
    while path[-1] != start:
        path.append(prev[path[-1]])
    return list(reversed(path))


def shortest_path(
    graph: Graph, start: int, target: int, direction: str = "OUTGOING"
) -> DataFrame:
    """`algo.shortestPath.stream` → (node_id, cost) rows along the path."""
    adj = _collect_csr(graph, direction)
    dist, prev = _dijkstra(adj, int(start), int(target))
    path = _path_to(prev, int(start), int(target))
    spark = graph.nodes.sparkSession
    rows = [] if path is None else [(int(v), float(dist[v])) for v in path]
    return spark.createDataFrame(rows, "node_id long, cost double")


def shortest_paths(graph: Graph, start: int, direction: str = "OUTGOING") -> DataFrame:
    """`algo.shortestPaths.stream` (SSSP, driver Dijkstra) → (node_id, distance)."""
    adj = _collect_csr(graph, direction)
    dist, _ = _dijkstra(adj, int(start))
    spark = graph.nodes.sparkSession
    return spark.createDataFrame(
        [(int(v), float(d)) for v, d in sorted(dist.items())], "node_id long, distance double"
    )


def astar(
    graph: Graph,
    start: int,
    target: int,
    lat: dict[int, float],
    lon: dict[int, float],
    direction: str = "OUTGOING",
) -> DataFrame:
    """`algo.shortestPath.astar.stream` — haversine-heuristic A*."""
    import math

    def hav(a: int, b: int) -> float:
        r = 6371.0
        la1, lo1, la2, lo2 = map(math.radians, (lat[a], lon[a], lat[b], lon[b]))
        h = (
            math.sin((la2 - la1) / 2) ** 2
            + math.cos(la1) * math.cos(la2) * math.sin((lo2 - lo1) / 2) ** 2
        )
        return 2 * r * math.asin(math.sqrt(h))

    uniq, counts, indptr, dst, w = _collect_csr(graph, direction)
    start, target = int(start), int(target)
    g_score = {start: 0.0}
    prev: dict[int, int] = {}
    heap = [(hav(start, target), start)]
    done = set()
    while heap:
        _, u = heapq.heappop(heap)
        if u == target:
            break
        if u in done:
            continue
        done.add(u)
        if u in indptr:
            lo = indptr[u]
            for k in range(lo, lo + counts[u]):
                v, dw = int(dst[k]), float(w[k])
                nd = g_score[u] + dw
                if nd < g_score.get(v, float("inf")):
                    g_score[v] = nd
                    prev[v] = u
                    heapq.heappush(heap, (nd + hav(v, target), v))
    path = _path_to(prev, start, target)
    spark = graph.nodes.sparkSession
    rows = [] if path is None else [(int(v), float(g_score[v])) for v in path]
    return spark.createDataFrame(rows, "node_id long, cost double")


def yens_k_shortest_paths(
    graph: Graph, start: int, target: int, k: int, direction: str = "OUTGOING"
) -> DataFrame:
    """`algo.kShortestPaths` (Yen) → (index, path: array<long>, cost)."""
    uniq, counts, indptr, dst, w = _collect_csr(graph, direction)
    start, target = int(start), int(target)

    def dijkstra_excl(removed_edges: set, removed_nodes: set, src: int):
        dist = {src: 0.0}
        prev: dict[int, int] = {}
        heap = [(0.0, src)]
        done = set()
        while heap:
            d, u = heapq.heappop(heap)
            if u in done:
                continue
            done.add(u)
            if u == target:
                break
            if u in indptr:
                lo = indptr[u]
                for kk in range(lo, lo + counts[u]):
                    v, dw = int(dst[kk]), float(w[kk])
                    if v in removed_nodes or (u, v) in removed_edges:
                        continue
                    nd = d + dw
                    if nd < dist.get(v, float("inf")):
                        dist[v] = nd
                        prev[v] = u
                        heapq.heappush(heap, (nd, v))
        return dist, prev

    dist, prev = dijkstra_excl(set(), set(), start)
    first = _path_to(prev, start, target)
    spark = graph.nodes.sparkSession
    if first is None:
        return spark.createDataFrame([], "index long, path array<bigint>, cost double")
    paths = [(first, dist[target])]
    candidates: list[tuple[float, list[int]]] = []
    seen = {tuple(first)}
    while len(paths) < k:
        base_path = paths[-1][0]
        for i in range(len(base_path) - 1):
            spur, root = base_path[i], base_path[: i + 1]
            removed_edges = {
                (p[i], p[i + 1]) for p, _ in paths if len(p) > i and p[: i + 1] == root
            }
            removed_nodes = set(root[:-1])
            d2, p2 = dijkstra_excl(removed_edges, removed_nodes, spur)
            tail = _path_to(p2, spur, target)
            if tail is None:
                continue
            total = root[:-1] + tail
            if tuple(total) in seen:
                continue
            root_cost = 0.0
            for a, b in zip(root[:-1], root[1:]):
                lo = indptr[a]
                for kk in range(lo, lo + counts[a]):
                    if int(dst[kk]) == b:
                        root_cost += float(w[kk])
                        break
            heapq.heappush(candidates, (root_cost + d2[target], total))
            seen.add(tuple(total))
        if not candidates:
            break
        c, p = heapq.heappop(candidates)
        paths.append((p, c))
    return spark.createDataFrame(
        [(i, [int(x) for x in p], float(c)) for i, (p, c) in enumerate(paths)],
        "index long, path array<bigint>, cost double",
    )


# --------------------------------------------------------- distributed SSSP
def delta_stepping(
    graph: Graph, start: int, delta: float, direction: str = "OUTGOING",
    max_iterations: int = 10_000,
) -> DataFrame:
    """`algo.shortestPath.deltaStepping` → (node_id, distance).

    Bucketed relaxation as a DataFrame fixpoint: settle bucket b by
    relaxing frontier edges (join + min-agg) until the bucket drains, then
    advance. Weights must be ≥ 0.
    """
    edges = (
        graph.undirected_edges() if direction == "BOTH" else graph.edges
    ).select("src", "dst", "weight").persist()
    spark = graph.nodes.sparkSession
    inf = float("inf")
    dist = graph.nodes.select(
        "id",
        F.when(F.col("id") == int(start), 0.0).otherwise(F.lit(inf)).alias("dist"),
    ).localCheckpoint(eager=True)
    bucket = 0
    iters = 0
    while iters < max_iterations:
        iters += 1
        lo, hi = bucket * delta, (bucket + 1) * delta
        frontier = dist.filter((F.col("dist") >= lo) & (F.col("dist") < hi))
        if frontier.isEmpty():
            nxt = (
                dist.filter((F.col("dist") >= hi) & (F.col("dist") != inf))
                .agg(F.min("dist"))
                .first()[0]
            )
            if nxt is None:
                break
            bucket = int(nxt // delta)
            continue
        relaxed = (
            edges.join(frontier, edges.src == frontier.id)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min(F.col("dist") + F.col("weight")).alias("cand"))
        )
        new_dist = (
            dist.join(relaxed, "id", "left")
            .select("id", F.least(F.col("dist"), F.coalesce("cand", F.lit(inf))).alias("dist"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_dist.alias("n")
            .join(dist.alias("o"), "id")
            .filter(F.col("n.dist") < F.col("o.dist"))
            .limit(1)
            .count()
        )
        improved_in_bucket = changed > 0
        dist = new_dist
        if not improved_in_bucket:
            bucket += 1
    edges.unpersist()
    return dist.filter(F.col("dist") != inf).select(
        F.col("id").alias("node_id"), F.col("dist").alias("distance")
    )


# ------------------------------------------------------------- BFS/DFS stream
def bfs(
    graph: Graph,
    start: int,
    direction: str = "OUTGOING",
    max_depth: int | None = None,
    target_nodes: list[int] | None = None,
) -> DataFrame:
    """`algo.bfs.stream` → (node_id, depth) in breadth order.

    Frontier join per level + `left_anti` visited subtraction (§2.6).
    """
    edges = (
        graph.undirected_edges() if direction == "BOTH" else graph.edges
    ).select("src", "dst").persist()
    spark = graph.nodes.sparkSession
    visited = spark.createDataFrame([(int(start), 0)], "id long, depth int")
    visited = visited.localCheckpoint(eager=True)
    frontier = visited
    depth = 0
    while True:
        depth += 1
        if max_depth is not None and depth > max_depth:
            break
        if target_nodes and not visited.filter(
            F.col("id").isin([int(t) for t in target_nodes])
        ).isEmpty():
            break
        nxt = (
            edges.join(frontier, edges.src == frontier.id)
            .select(F.col("dst").alias("id"))
            .distinct()
            .join(visited, "id", "left_anti")
            .withColumn("depth", F.lit(depth))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    edges.unpersist()
    return visited.select(F.col("id").alias("node_id"), F.col("depth").cast("long"))


def dfs(
    graph: Graph, start: int, direction: str = "OUTGOING",
    max_depth: int | None = None,
) -> DataFrame:
    """`algo.dfs.stream` → (node_id, order) in preorder, neighbors by id.

    DFS is inherently sequential — driver-side over collected CSR, like the
    reference's single-threaded Traverse.java.
    """
    uniq, counts, indptr, dst, w = _collect_csr(graph, direction)
    order_out = []
    seen = set()
    stack = [(int(start), 0)]
    while stack:
        u, d = stack.pop()
        if u in seen or (max_depth is not None and d > max_depth):
            continue
        seen.add(u)
        order_out.append((u, len(order_out)))
        if u in indptr:
            lo = indptr[u]
            nbrs = sorted(int(dst[k]) for k in range(lo, lo + counts[u]))
            for v in reversed(nbrs):
                if v not in seen:
                    stack.append((v, d + 1))
    spark = graph.nodes.sparkSession
    return spark.createDataFrame(order_out, "node_id long, order long")


# ----------------------------------------------------------------------- MST
def minimum_spanning_forest(graph: Graph, maximum: bool = False) -> DataFrame:
    """`algo.spanningTree(.minimum/.maximum)` → (src, dst, weight) tree edges.

    Borůvka, fully distributed: per component pick its min (max) incident
    edge (window over all edges), union the picked edges into the forest
    DataFrame (never collected to the driver), and merge components by
    connected components of the component-merge graph: a driver union-find
    once the picks fit ``blocks.collect_if_small``, else ``wcc()``. The
    gate counts first, and an empty pick set ends the loop. O(log n)
    rounds; deterministic (weight, src, dst) tie-break keeps the pick set
    cycle-free.
    """
    from linkgraph.algorithms.wcc import union_find_mapping, wcc as _wcc

    und = graph.canonical_edges().persist()
    und.count()
    sign = -1.0 if maximum else 1.0
    spark = und.sparkSession
    comp = (
        und.select(F.col("src").alias("id"))
        .unionByName(und.select(F.col("dst").alias("id")))
        .distinct()
        .select("id", F.col("id").alias("comp"))
        .localCheckpoint(eager=True)
    )
    forest = None
    from pyspark.sql import Window

    for _ in range(64):
        c1 = comp.select(F.col("id").alias("src"), F.col("comp").alias("c1"))
        c2 = comp.select(F.col("id").alias("dst"), F.col("comp").alias("c2"))
        e = und.join(c1, "src").join(c2, "dst").filter(F.col("c1") != F.col("c2"))
        cand = e.select(
            F.explode(F.array("c1", "c2")).alias("pcomp"), "src", "dst", "weight",
            "c1", "c2",
        )
        win = Window.partitionBy("pcomp").orderBy(
            (sign * F.col("weight")).asc(), F.col("src").asc(), F.col("dst").asc()
        )
        picks = (
            cand.withColumn("_rn", F.row_number().over(win))
            .filter(F.col("_rn") == 1)
            .select("src", "dst", "weight", "c1", "c2")
            .localCheckpoint(eager=True)
        )
        # contract: connected components of the comp-merge graph. One pick
        # per component, so the merge graph has ≤ #components edges — when
        # that is driver-sized, a numpy union-find beats ~10 distributed WCC
        # jobs (same hybrid as Louvain's coarsened levels); the distributed
        # WCC remains the path for the first rounds at 10^9-component scale.
        pick_pd = blocks.collect_if_small(picks.select("c1", "c2"), count_first=True)
        if pick_pd is None:
            merge_graph = Graph.from_edges(
                picks.select(F.col("c1").alias("src"), F.col("c2").alias("dst"))
            )
            mapping = _wcc(merge_graph).select(
                F.col("id").alias("comp_old"), F.col("component").alias("comp_new")
            )
        elif pick_pd.empty:
            break
        else:
            mapping = F.broadcast(spark.createDataFrame(
                union_find_mapping(pick_pd).rename(
                    columns={"id": "comp_old", "component": "comp_new"}
                ),
                "comp_old long, comp_new long",
            ))
        # two components may pick the same edge — dedup within the round;
        # across rounds an edge cannot recur (its endpoints share a comp)
        new_edges = picks.select("src", "dst", "weight").distinct()
        forest = (
            new_edges if forest is None else forest.unionByName(new_edges)
        ).localCheckpoint(eager=True)
        comp = (
            comp.join(mapping, comp.comp == mapping.comp_old, "left")
            .select("id", F.coalesce("comp_new", "comp").alias("comp"))
            .localCheckpoint(eager=True)
        )
    und.unpersist()
    if forest is None:
        return spark.createDataFrame([], "src long, dst long, weight double")
    return forest


def k_spanning_tree(graph: Graph, k: int, maximum: bool = False) -> DataFrame:
    """`algo.spanningTree.k{min,max}` → (id, cluster).

    Reference `impl/spanningTrees/KSpanningTree.java`: build the min (max)
    spanning tree, cut the k−1 heaviest (lightest) tree edges, label the
    resulting k clusters. Cluster id = min member id (``wcc()`` over the
    kept tree edges, which picks the driver or distributed side).
    """
    from linkgraph.algorithms.wcc import wcc

    forest = minimum_spanning_forest(graph, maximum=maximum).persist()
    order = F.asc("weight") if maximum else F.desc("weight")
    cuts = forest.orderBy(order, F.asc("src"), F.asc("dst")).limit(max(k - 1, 0))
    kept = forest.join(cuts, ["src", "dst"], "left_anti")
    out = wcc(Graph.from_edges(kept, nodes=graph.nodes.select("id"))).select(
        "id", F.col("component").alias("cluster")
    )
    forest.unpersist()
    return out
