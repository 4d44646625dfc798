"""Independent references for every output the benchmark checks.

numpy, pandas and DuckDB only; nothing here imports linkgraph's
algorithms. All are computed outside the timed region.
"""

from __future__ import annotations

import tempfile

import duckdb
import numpy as np
import pandas as pd

DAMPING = 0.85


def _duckdb():
    """Bounded in-memory DuckDB that spills under the run's temp dir."""
    return duckdb.connect(config={
        "memory_limit": "1GB", "threads": 2, "temp_directory": tempfile.gettempdir(),
    })


def pagerank(src, dst, n: int, iterations: int | None = None,
             tolerance: float | None = None, max_iterations: int = 100):
    """Unnormalised PageRank p = (1-d) + d·Σ p(u)/outdeg(u), from p = 1.

    With ``tolerance`` it stops after the first step whose max |Δ| falls
    below it. Returns (ranks, steps taken).
    """
    outdeg = np.bincount(src, minlength=n).astype(np.float64)
    share = np.zeros(n)
    p = np.ones(n)
    steps = iterations if iterations is not None else max_iterations
    for k in range(1, steps + 1):
        np.divide(p, outdeg, out=share, where=outdeg > 0)
        nxt = (1 - DAMPING) + DAMPING * np.bincount(dst, weights=share[src], minlength=n)
        delta = np.abs(nxt - p).max()
        p = nxt
        if tolerance is not None and delta < tolerance:
            return p, k
    return p, steps


def components(src, dst, n: int) -> np.ndarray:
    """Weakly connected components by union-find; label = min member id."""
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(src.tolist(), dst.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return np.array([find(x) for x in range(n)], dtype=np.int64)


def label_propagation(src, dst, weight, n: int, max_iterations: int = 10):
    """Synchronous LPA on the undirected view (reciprocal pairs keep the
    max weight, self-loops dropped); winner per node = (weight desc,
    label asc); nodes without neighbours keep their label. Stops when no
    label changes. Returns (labels, iterations)."""
    e = pd.DataFrame({"s": src, "d": dst, "w": weight})
    e = pd.concat([e, e.rename(columns={"s": "d", "d": "s"})])
    e = e[e.s != e.d].groupby(["s", "d"], as_index=False)["w"].max()
    labels = np.arange(n, dtype=np.int64)
    for it in range(1, max_iterations + 1):
        votes = (
            pd.DataFrame({"d": e.d.to_numpy(), "l": labels[e.s.to_numpy()], "w": e.w.to_numpy()})
            .groupby(["d", "l"], as_index=False)["w"].sum()
            .sort_values(["d", "w", "l"], ascending=[True, False, True])
            .drop_duplicates("d")
        )
        nxt = labels.copy()
        nxt[votes.d.to_numpy()] = votes.l.to_numpy()
        changed = bool((nxt != labels).any())
        labels = nxt
        if not changed:
            return labels, it
    return labels, max_iterations


def triangles_per_node(src, dst) -> pd.DataFrame:
    """(id, triangles) for every node on a triangle, by DuckDB self-join."""
    edges = pd.DataFrame({"s": src, "d": dst})  # noqa: F841 (read by DuckDB)
    con = _duckdb()
    try:
        return con.execute("""
            WITH ce AS (SELECT DISTINCT LEAST(s, d) AS a, GREATEST(s, d) AS b
                        FROM edges WHERE s <> d),
            t AS (SELECT x.a, x.b, y.b AS c FROM ce x
                  JOIN ce y ON x.a = y.a AND x.b < y.b
                  JOIN ce z ON z.a = x.b AND z.b = y.b)
            SELECT id, COUNT(*) AS triangles FROM (
              SELECT a AS id FROM t UNION ALL SELECT b FROM t UNION ALL SELECT c FROM t)
            GROUP BY id""").fetchdf()
    finally:
        con.close()


# ----------------------------------------------------------- contract_mix
def doc_edges(docs: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """The contract's doc→doc link rule, restated over pandas."""
    n = len(docs)
    i = docs.doc_id.to_numpy(np.int64)
    c = docs.n_chars.to_numpy(np.int64)
    s5 = 5 * docs.text.str.count("spark").to_numpy(np.int64)
    dst = np.concatenate([
        (37 * i + c) % n, (61 * i + 3 * s5 + 7) % n,
        (101 * i + 13 * c + 1) % n, (17 * i + 29 * s5 + 11 * c) % n,
    ])
    key = np.unique(np.tile(i, 4) * n + dst)
    s, d = key // n, key % n
    keep = s != d
    return s[keep], d[keep]


def _reach(adj: np.ndarray) -> np.ndarray:
    """Reflexive transitive closure of a dense boolean adjacency."""
    r = adj | np.eye(len(adj), dtype=bool)
    while True:
        nxt = (r.astype(np.float32) @ r.astype(np.float32)) > 0
        if (nxt == r).all():
            return r
        r = nxt


def scc(src, dst, n: int) -> pd.DataFrame:
    """(id, component): component = min id of the strongly connected set."""
    adj = np.zeros((n, n), dtype=bool)
    adj[src, dst] = True
    r = _reach(adj)
    both = r & r.T
    return pd.DataFrame({"id": np.arange(n), "component": both.argmax(axis=1)})


def oracle(sql: str, sf_dir: str) -> pd.DataFrame:
    con = _duckdb()
    try:
        for t in ("documents", "events"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        return con.execute(sql).fetchdf()
    finally:
        con.close()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Column- and row-order-free form, as the contract gate compares."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)
