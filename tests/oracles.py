"""Independent numpy reference implementations (FIXTURES.md goldens)."""

from __future__ import annotations

import hashlib
import math
from collections import Counter

import numpy as np


def np_pagerank(
    edges: list[tuple[int, int, float]],
    n: int,
    d: float = 0.85,
    weighted: bool = False,
    teleport: np.ndarray | None = None,
    iters: int | None = None,
    tol: float = 1e-12,
) -> np.ndarray:
    """Reference-semantics PR: p = (1−d)·t + d·Σ p(u)·w/W(u); init p = t."""
    w_out = np.zeros(n)
    for s, _, w in edges:
        w_out[s] += w if weighted else 1.0
    t = np.ones(n) if teleport is None else np.asarray(teleport, dtype=np.float64)
    p = t.copy()
    k = 0
    while True:
        contrib = np.zeros(n)
        for s, tgt, w in edges:
            contrib[tgt] += p[s] * (w if weighted else 1.0) / w_out[s]
        new_p = (1 - d) * t + d * contrib
        delta = np.abs(new_p - p).max()
        p = new_p
        k += 1
        if iters is not None:
            if k >= iters:
                return p
        elif delta < tol:
            return p


def np_wcc(edges: list[tuple[int, int, float]], ids: list[int], threshold=None):
    """min-member-id components via plain union-find."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d, w in edges:
        if threshold is not None and w <= threshold:
            continue
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[max(rs, rd)] = min(rs, rd)
    return {i: find(i) for i in ids}


def np_lpa_sync(
    edges: list[tuple[int, int, float]],
    ids: list[int],
    seeds: dict[int, int] | None = None,
    max_iters: int = 50,
) -> dict[int, int]:
    """Synchronous LPA, tie-break (max weight, min label), undirected."""
    seeds = seeds or {}
    und: dict[int, list[tuple[int, float]]] = {i: [] for i in ids}
    for s, d, w in edges:
        if s == d:
            continue
        und[s].append((d, w))
        und[d].append((s, w))
    labels = {i: seeds.get(i, i) for i in ids}
    for _ in range(max_iters):
        new = {}
        for v in ids:
            votes: dict[int, float] = {}
            for u, w in und[v]:
                votes[labels[u]] = votes.get(labels[u], 0.0) + w
            if votes:
                new[v] = sorted(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
            else:
                new[v] = labels[v]
        if new == labels:
            break
        labels = new
    return labels


def np_triangles(edges: list[tuple[int, int, float]], ids: list[int]):
    """per-node triangle counts + coefficients on the undirected simple graph."""
    adj: dict[int, set[int]] = {i: set() for i in ids}
    for s, d, _ in edges:
        if s != d:
            adj[s].add(d)
            adj[d].add(s)
    tri = {i: 0 for i in ids}
    for v in ids:
        nbrs = sorted(adj[v])
        for i in range(len(nbrs)):
            for j in range(i + 1, len(nbrs)):
                if nbrs[j] in adj[nbrs[i]]:
                    tri[v] += 1
    coef = {}
    for v in ids:
        deg = len(adj[v])
        coef[v] = 2.0 * tri[v] / (deg * (deg - 1)) if deg >= 2 else 0.0
    return tri, coef


def np_betweenness(edge_pairs, ids):
    """Independent Brandes oracle (Brandes 2001, per-source BFS), undirected.

    edge_pairs: iterable of (src, dst) — one row per undirected edge.
    Returns {id: centrality} with the undirected 1/2 factor applied.
    """
    from collections import defaultdict, deque

    adj = defaultdict(list)
    for s, d in edge_pairs:
        adj[s].append(d)
        adj[d].append(s)
    cb = {v: 0.0 for v in ids}
    for s in ids:
        stack = []
        preds = defaultdict(list)
        sigma = defaultdict(float)
        sigma[s] = 1.0
        dist = {s: 0}
        q = deque([s])
        while q:
            v = q.popleft()
            stack.append(v)
            for w in adj[v]:
                if w not in dist:
                    dist[w] = dist[v] + 1
                    q.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] += sigma[v]
                    preds[w].append(v)
        delta = defaultdict(float)
        while stack:
            w = stack.pop()
            for v in preds[w]:
                delta[v] += sigma[v] / sigma[w] * (1.0 + delta[w])
            if w != s:
                cb[w] += delta[w]
    return {v: cb[v] * 0.5 for v in ids}


def np_kruskal_weight(edge_triples, maximum=False):
    """Independent Kruskal oracle → (total_weight, edge_count) of the
    min/max spanning forest over canonical undirected edges."""
    parent = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    edges = sorted(edge_triples, key=lambda t: (-t[2] if maximum else t[2], t[0], t[1]))
    total, cnt = 0.0, 0
    for s, d, w in edges:
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[max(rs, rd)] = min(rs, rd)
            total += w
            cnt += 1
    return total, cnt


def py_reference_classifier(
    rows: list[tuple[int, str, str]],
    target_source: str,
    n_buckets: int,
    iters: int,
    lr: float,
) -> dict[int, float]:
    """Hashed-bigram logistic classifier, trained by full-batch GD and
    applied to its own rows: [(doc_id, source, text)] → {doc_id: score}."""

    def grams(text: str) -> list[str]:
        t = text.split(" ")
        return t + [f"{t[i]} {t[i + 1]}" for i in range(len(t) - 1)]

    def bucket(gm: str) -> int:
        return int(hashlib.md5(gm.encode()).hexdigest()[:15], 16) % n_buckets

    feats, ys = {}, {}
    for did, src, text in rows:
        c = Counter(bucket(g) for g in grams(text))
        tot = float(sum(c.values()))
        feats[did] = {bk: cnt / tot for bk, cnt in c.items()}
        ys[did] = 1.0 if src == target_source else 0.0
    n = float(len(rows))
    w = np.zeros(n_buckets)
    bias = 0.0
    for _ in range(iters):
        gw = np.zeros(n_buckets)
        gb = 0.0
        for did, fx in feats.items():
            m = bias + sum(x * w[bk] for bk, x in fx.items())
            r = 1.0 / (1.0 + math.exp(-m)) - ys[did]
            for bk, x in fx.items():
                gw[bk] += x * r
            gb += r
        w -= lr * gw / n
        bias -= lr * gb / n
    out = {}
    for did, fx in feats.items():
        m = bias + sum(x * w[bk] for bk, x in fx.items())
        out[did] = 1.0 / (1.0 + math.exp(-m))
    return out


def exact_heavy_hitters(docs, phi: float = 0.01, text_col: str = "text"):
    """Full-shuffle exact (token, count) of every token with count ≥
    phi·N — the output contract of ``sketch.heavy_hitters``."""
    from pyspark.sql import functions as F

    toks = docs.select(F.explode(F.split(F.col(text_col), " ")).alias("tok"))
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("count"))
    total = toks.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("count") >= F.lit(phi) * F.col("n_total"))
        .select(F.col("tok").alias("token"), "count")
    )
