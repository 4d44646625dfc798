"""Random walks — `algo.randomWalk.stream` (random / node2vec modes).

Reference: `algo/.../impl/walking/{RandomWalk,NodeWalker}.java`: per-start
walks with uniform or node2vec (p=return, q=inOut) transition bias.

Spark-native: walks run per start-node batch inside an Arrow UDF over the
worker-resident global CSR merged from the DISTRIBUTED block store
(blocks.open_store on shared storage — no driver collect). The
walker is batch-vectorized: ALL walks in a batch advance one step per
numpy operation (gather degrees, one counter-based random vector, fancy-
index next hops); node2vec membership ("is this neighbor also a neighbor
of prev?") is a vectorized binary search over a per-node-sorted adjacency
copy instead of np.isin per node per step.

Determinism: the random stream is a counter-based hash of
(seed, start, walk_idx, step) — splitmix64 — so results are identical
across runs AND across any partitioning of the start nodes.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F

from linkgraph.graph import Graph
from linkgraph.algorithms import blocks
from linkgraph.algorithms.betweenness import _ensure_store, _materialized_on

_U64 = np.uint64
_SORTED_ADJ_CACHE: dict = {}


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer (public-domain constant mix)."""
    z = (x + _U64(0x9E3779B97F4A7C15)).astype(np.uint64)
    z = (z ^ (z >> _U64(30))) * _U64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> _U64(27))) * _U64(0x94D049BB133111EB)
    return z ^ (z >> _U64(31))


def _u01(seed: int, starts: np.ndarray, wi: np.ndarray, step: int) -> np.ndarray:
    """Deterministic uniforms in [0,1): one per (seed, start, walk, step)."""
    seed_mix = (seed * 0xC2B2AE3D27D4EB4F) & 0xFFFFFFFFFFFFFFFF  # python-int wrap
    x = (
        _U64(seed_mix)
        ^ (starts.astype(np.uint64) * _U64(0x165667B19E3779F9))
        ^ (wi.astype(np.uint64) * _U64(0x27D4EB2F165667C5))
        ^ _U64(step + 1)
    )
    return (_splitmix64(x) >> _U64(11)).astype(np.float64) / float(1 << 53)


def _sorted_adjacency(path_dir: str, n: int):
    """(indptr, indices) with neighbors SORTED within each node's segment —
    required by the vectorized binary-search membership test. Built once
    per (store, process), then cached like the CSR itself."""
    got = _SORTED_ADJ_CACHE.get(path_dir)
    if got is not None:
        return got
    indptr, indices, _ = blocks.load_global_csr(path_dir, n)
    seg = np.repeat(np.arange(n, dtype=np.int64), np.diff(indptr))
    order = np.lexsort((indices, seg))
    got = (indptr, np.ascontiguousarray(indices[order]))
    _SORTED_ADJ_CACHE[path_dir] = got
    if len(_SORTED_ADJ_CACHE) > 64:
        # evict everything EXCEPT the entry just built (mirrors
        # blocks._GLOBAL_CSR_CACHE eviction) — clearing unconditionally would
        # re-run the O(E log E) lexsort on every subsequent batch
        _SORTED_ADJ_CACHE.clear()
        _SORTED_ADJ_CACHE[path_dir] = got
    return got


def _segment_lower_bound(indices, lo, hi, needle):
    """Vectorized lower_bound of needle[i] in sorted indices[lo[i]:hi[i]].
    O(log max_deg) fancy-index rounds, all walks at once."""
    lo = lo.copy()
    hi = hi.copy()
    while True:
        open_ = lo < hi
        if not open_.any():
            break
        mid = (lo + hi) >> 1
        v = indices[np.minimum(mid, len(indices) - 1)]
        go_right = open_ & (v < needle)
        lo = np.where(go_right, mid + 1, lo)
        hi = np.where(open_ & ~go_right, mid, hi)
    return lo


def _node2vec_step(indices, indptr, off, deg, u, prev_w, p_ret, q_io):
    """One node2vec hop for a CHUNK of walks, fully vectorized.

    off/deg/u/prev_w are per-walk (current node's adjacency offset and
    degree, the walk's uniform draw, its previous node or -1). Flattens
    the chunk's ragged neighbor lists, scores each neighbor with the
    p/q bias (binary-search membership in adj(prev)), and draws via
    inverse CDF over in-segment cumsums."""
    total = int(deg.sum())
    seg_end = np.cumsum(deg)
    seg_start = seg_end - deg
    wid = np.repeat(np.arange(len(deg)), deg)
    pos = np.arange(total) - np.repeat(seg_start, deg)
    fl = indices[np.repeat(off, deg) + pos]  # flat neighbors
    prev_rep = prev_w[wid]
    pclip = np.maximum(prev_w, 0)
    # membership of each neighbor in adj(prev): binary search
    lb = _segment_lower_bound(
        indices, indptr[pclip][wid], indptr[pclip + 1][wid], fl
    )
    member = (lb < indptr[pclip + 1][wid]) & (
        indices[np.minimum(lb, len(indices) - 1)] == fl
    )
    wts = np.where(
        fl == prev_rep,
        1.0 / p_ret,
        np.where(member, 1.0, 1.0 / q_io),
    )
    wts[prev_rep < 0] = 1.0  # first hop: uniform
    # categorical draw per walk via inverse CDF in-segment
    cs = np.cumsum(wts)
    before = np.concatenate(([0.0], cs[seg_end[:-1] - 1]))
    cs_in = cs - np.repeat(before, deg)
    seg_tot = cs_in[seg_end - 1]
    thresh = u * seg_tot
    flat_idx = np.where(cs_in >= thresh[wid], np.arange(total), total)
    first = np.minimum.reduceat(flat_idx, seg_start)
    first = np.minimum(first, seg_end - 1)  # fp round-off
    return fl[first]


def random_walks(
    graph: Graph,
    steps: int = 10,
    walks_per_node: int = 1,
    mode: str = "random",
    return_param: float = 1.0,
    in_out_param: float = 1.0,
    direction: str = "BOTH",
    seed: int = 42,
    start_nodes: list[int] | None = None,
    store_path: str | None = None,
) -> DataFrame:
    """→ (start, walk_idx, path: array<long>)."""
    path_dir, n_arr = _ensure_store(graph, direction, store_path)

    p_ret, q_io = float(return_param), float(in_out_param)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        indptr, indices = _sorted_adjacency(path_dir, n_arr)
        deg_all = np.diff(indptr)
        for pdf in batches:
            starts = pdf["start"].to_numpy(np.int64)
            nb = len(starts)
            if nb == 0:
                yield pd.DataFrame(
                    {
                        "start": np.empty(0, np.int64),
                        "walk_idx": np.empty(0, np.int32),
                        "path": pd.Series([], dtype=object),
                    }
                )
                continue
            n_walks = nb * walks_per_node
            s_rep = np.repeat(starts, walks_per_node)
            wi_rep = np.tile(np.arange(walks_per_node, dtype=np.int64), nb)
            paths = np.full((n_walks, steps + 1), -1, dtype=np.int64)
            paths[:, 0] = s_rep
            cur = s_rep.copy()
            prev = np.full(n_walks, -1, np.int64)
            alive = deg_all[cur] > 0
            for t in range(steps):
                act = np.flatnonzero(alive)
                if act.size == 0:
                    break
                c = cur[act]
                off = indptr[c]
                deg = deg_all[c]
                u = _u01(seed, s_rep[act], wi_rep[act], t)
                if mode == "node2vec":
                    # Chunk the active set so the flattened neighbor arrays
                    # stay bounded (~FLAT_BUDGET entries) even when many
                    # walks sit on power-law hub nodes at once — the
                    # vectorization must not trade O(max_degree) per-walk
                    # memory for an unbounded sum-of-degrees allocation.
                    FLAT_BUDGET = 4_000_000
                    csum = np.cumsum(deg)
                    nxt = np.empty(act.size, np.int64)
                    lo_i = 0
                    while lo_i < act.size:
                        base = csum[lo_i] - deg[lo_i]
                        hi_i = int(np.searchsorted(csum, base + FLAT_BUDGET,
                                                   side="right"))
                        hi_i = max(hi_i, lo_i + 1)  # ≥1 walk per chunk
                        sl = slice(lo_i, hi_i)
                        nxt[sl] = _node2vec_step(
                            indices, indptr, off[sl], deg[sl], u[sl],
                            prev[act][sl], p_ret, q_io,
                        )
                        lo_i = hi_i
                else:
                    idx = off + np.minimum((u * deg).astype(np.int64), deg - 1)
                    nxt = indices[idx]
                prev[act] = cur[act]
                cur[act] = nxt
                paths[act, t + 1] = nxt
                alive[act] = deg_all[nxt] > 0
            lengths = (paths >= 0).sum(axis=1)
            yield pd.DataFrame(
                {
                    "start": s_rep,
                    "walk_idx": wi_rep.astype(np.int32),
                    "path": [paths[i, : lengths[i]].tolist() for i in range(n_walks)],
                }
            )

    starts = graph.nodes.select(F.col("id").alias("start"))
    if start_nodes is not None:
        starts = starts.filter(F.col("start").isin([int(x) for x in start_nodes]))
    b = graph.nodes.sparkSession.sparkContext.defaultParallelism
    walks = starts.repartition(b).mapInPandas(
        run, schema="start long, walk_idx int, path array<bigint>"
    )
    return _materialized_on(path_dir, walks)
