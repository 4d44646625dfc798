"""Per-partition CSR/CSC blocks, OS-page-cache-resident, for gather-scatter.

The Spark analogue of the reference's compressed adjacency pages
(`core/src/main/java/org/neo4j/graphalgo/core/huge/HugeAdjacencyList.java`,
`AdjacencyCompression.java`) and of PageRank's degree-partitioned
ComputeSteps (`algo/.../impl/pagerank/ComputeSteps.java`).

Two layouts, one block-store design:

* **push (CSR)** — edges hash-partitioned by ``src``; per block arrays
  (src_ids, indptr, w_norm, dst_uniq, dst_code). Per superstep each block
  scatters rank(u)·w_norm into a local bincount (map-side combine) and the
  gather is ``groupBy(dst).agg(sum)`` — at most B partial rows per target,
  so high-in-degree skew cannot unbalance the shuffle. Scales to rank
  vectors far beyond single-machine memory.
* **pull (CSC)** — edges partitioned by ``pmod(dst, B)``; per block
  (src, slice_pos, w_norm) with slice_pos indexing np.arange(part, n, B).
  Per superstep the driver broadcasts the rank vector and each block
  computes its target slice with one gather + one bincount — ZERO shuffle;
  the driver is the BSP barrier. The fast path while the vector fits in
  memory (~10⁸ nodes).

``w_norm = w(u,v) / W(u)`` is baked per edge at build time (the degree
cache of impl/pagerank/DegreeComputer.java), so the superstep kernel is a
pure gather-multiply-bincount over numpy; Python loops only over blocks and
supersteps.

Storage: the build tasks write raw ``.npy`` arrays under ``path/part=K/``
(one file per array — no Arrow 2 GB cell limits) and the compute tasks
``np.load(..., mmap_mode='r')`` them. mmap makes the adjacency
**OS-page-cache resident machine-wide**: any Python worker on the host hits
RAM after the first touch, regardless of task placement — per-process RAM
caches thrash when Spark schedules a partition on a different worker each
superstep (measured: local[8] 3× slower than local[2] with per-process
caching; see BENCH/BASELINE.md history). Per superstep, Arrow/broadcast
traffic is ONLY the rank vector. On a cluster the store lives on the
executor-local scratch of a shared filesystem (or is fetched once from
object storage per host).
"""

from __future__ import annotations

import json
import os
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F

RANK_BLOCK_SCHEMA = "part int, ids binary, vals binary"

# tiny per-process handle cache; actual data pages are shared via OS page cache
_MMAP_CACHE: dict[tuple, dict] = {}

_PUSH_ARRAYS = ["src_ids", "indptr", "w_norm", "dst_uniq", "dst_code"]
_PUSH_RAW = "w_raw"  # raw (un-normalized) weights; used by weighted Dijkstra
_PULL_ARRAYS = ["src", "slice_pos", "w_norm"]


EDGES_PER_BLOCK = 1 << 18  # ≥256k edges per block: real numpy work per task

# Pull-superstep task sizing (guide §2.2 "fewer, larger map tasks"): the
# per-task fixed overhead (scheduling + Python worker round-trip) dwarfs
# the ~5 ms of numpy per 256k-edge block, so one task per BLOCK wastes a
# core-count of overhead every superstep on mid-sized graphs. Tasks are
# sized by edge VOLUME — several blocks per task below this target, one
# task per block (full parallelism) once blocks are volume-sized anyway.
EDGES_PER_PULL_TASK = 1 << 20


def _pull_task_count(block_path: str, num_blocks: int) -> int:
    try:
        m = read_manifest(block_path)
        n_edges = sum(int(v) for v in m["parts"].values())
    except OSError:
        return num_blocks
    return max(1, min(int(num_blocks), -(-n_edges // EDGES_PER_PULL_TASK)))

# Shared hybrid crossover: row counts at or below this fit comfortably on the
# driver, so the driver-numpy path (union-find, coarsened Louvain, InfoMap
# sweeps) beats ~10 distributed fixpoint jobs. One constant — tuning it for
# a bigger driver moves every algorithm's crossover together.
DRIVER_EDGE_THRESHOLD = 2_000_000


def collect_if_small(df: DataFrame) -> pd.DataFrame | None:
    """``df`` as pandas when it has at most DRIVER_EDGE_THRESHOLD rows, else
    None. The LIMIT-bounded probe and the collect are one job: above the
    threshold at most threshold + 1 rows reach the driver and are dropped,
    and no full scan or count runs."""
    pdf = df.limit(DRIVER_EDGE_THRESHOLD + 1).toPandas()
    return None if len(pdf) > DRIVER_EDGE_THRESHOLD else pdf


def index_edges(
    ids: np.ndarray, src: np.ndarray, dst: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(es, ed, ok): positions of ``src``/``dst`` in the sorted unique node
    ``ids``, and the mask of edges with both endpoints in ``ids`` — the
    edges a distributed join against the node table keeps."""
    n = len(ids)
    es = np.searchsorted(ids, src)
    ed = np.searchsorted(ids, dst)
    if n == 0:
        return es, ed, np.zeros(len(src), dtype=bool)
    ok = (
        (es < n) & (ed < n)
        & (ids[np.minimum(es, n - 1)] == src)
        & (ids[np.minimum(ed, n - 1)] == dst)
    )
    return es, ed, ok


def auto_num_blocks(edges, parallelism: int) -> int:
    """Size the block count by edge VOLUME, capped by parallelism.

    Core-count-sized blocks are wrong at both ends: a 50k-edge graph split
    32 ways is pure scheduler overhead (tasks of ~150 nodes), and at 100 TB
    the cap keeps one block per core. Mirrors Spark's own
    `files.maxPartitionBytes` sizing logic, applied to CSR blocks.
    """
    n_e = edges.count()
    return max(1, min(int(parallelism), -(-n_e // EDGES_PER_BLOCK)))


def _save_atomic(path: str, name: str, arr: np.ndarray) -> None:
    tmp = os.path.join(path, f".{name}.tmp.npy")
    np.save(tmp, arr)
    os.replace(tmp, os.path.join(path, f"{name}.npy"))


def _part_dir(path: str, part: int) -> str:
    return os.path.join(path, f"part={part}")


def _load_part(path: str, part: int, names: list[str]) -> dict | None:
    key = (path, part, tuple(names))
    blk = _MMAP_CACHE.get(key)
    if blk is not None:
        return blk
    d = _part_dir(path, part)
    if not os.path.isdir(d):
        return None
    blk = {}
    for name in names:
        f = os.path.join(d, f"{name}.npy")
        if not os.path.exists(f):
            return None
        blk[name] = np.load(f, mmap_mode="r")
    _MMAP_CACHE[key] = blk
    if len(_MMAP_CACHE) > 4096:
        _MMAP_CACHE.clear()
    return blk


def _finalize_store(
    df_manifest: DataFrame, path: str, num_blocks: int, meta: dict | None = None
) -> None:
    rows = df_manifest.collect()
    manifest = {
        "num_blocks": num_blocks,
        "parts": {str(r["part"]): int(r["n_edge"]) for r in rows},
    }
    if meta:
        manifest.update(meta)
    with open(os.path.join(path, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    open(os.path.join(path, "_SUCCESS"), "w").close()


def validate_store(
    path: str, layout: str, weighted: bool | None = None
) -> int:
    """Read a pre-built store's manifest and return ITS num_blocks.

    Raises on layout or weighted-flag mismatch — a store built with a
    different num_blocks (e.g. defaultParallelism changed between sessions)
    or weighting would otherwise silently mis-slice / zero contributions.
    """
    m = read_manifest(path)
    got_layout = m.get("layout")
    if got_layout is not None and got_layout != layout:
        raise ValueError(
            f"block store at {path} has layout={got_layout!r}, need {layout!r}"
        )
    got_w = m.get("weighted")
    if weighted is not None and got_w is not None and bool(got_w) != bool(weighted):
        raise ValueError(
            f"block store at {path} was built weighted={got_w}; "
            f"this run needs weighted={weighted} — rebuild or point elsewhere"
        )
    return int(m["num_blocks"])


def store_exists(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def read_manifest(path: str) -> dict:
    with open(os.path.join(path, "manifest.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------------------
# In-process store-directory cache keyed by the edge PLAN's semantic hash:
# repeated algorithm runs on the same logical graph (bench repeats, an
# interactive session iterating parameters) reuse the materialized block
# store instead of re-shuffling the edge table every call. Stores are
# immutable once written (_SUCCESS last); validate_store still guards
# geometry on reuse. NOT keyed by data contents — mutating the underlying
# files mid-process is out of contract (same assumption the OS-page-cache
# residency already makes). Bounded: oldest UNPINNED entries evicted +
# deleted — algorithms pin their store for the duration of a superstep
# loop so eviction can never delete a directory that is being read.
# ---------------------------------------------------------------------------
_STORE_DIR_CACHE: dict[tuple, str] = {}
_STORE_DIR_CACHE_MAX = 16
# path → refcount of in-flight algorithm runs reading the store: eviction
# skips pinned paths, so a long PageRank mid-superstep can never have its
# block directory rmtree'd out from under it by 16 newer stores
_STORE_DIR_PINS: dict[str, int] = {}


def pin_store(path: str) -> None:
    _STORE_DIR_PINS[path] = _STORE_DIR_PINS.get(path, 0) + 1


def unpin_store(path: str) -> None:
    n = _STORE_DIR_PINS.get(path, 0) - 1
    if n <= 0:
        _STORE_DIR_PINS.pop(path, None)
    else:
        _STORE_DIR_PINS[path] = n


class pinned_store:
    """Context manager: pin `path` against LRU eviction for the duration of
    an algorithm run (use around any superstep loop that re-reads blocks)."""

    def __init__(self, path: str):
        self.path = path

    def __enter__(self):
        pin_store(self.path)
        return self.path

    def __exit__(self, *exc):
        unpin_store(self.path)
        return False


_FINGERPRINT_STAT_CAP = 1024


def _input_files_fingerprint(edges: DataFrame) -> int:
    """Content signature of the plan's file inputs: a CRC-32 over the sorted
    input-file paths plus (size, mtime_ns) for up to _FINGERPRINT_STAT_CAP
    local files. Overwriting a parquet file beneath a semantically identical
    plan changes this signature, so the store cache rebuilds instead of
    serving stale CSR/CSC blocks (r5 verdict). Driver-side listing only —
    the scan's FileIndex has already listed these paths, no Spark job. Past
    the cap (or for non-local URIs) the path list alone still catches
    adds/removes/renames; plans with no file inputs hash to a constant,
    which is exactly the pre-r6 semantics."""
    try:
        files = sorted(edges.inputFiles())
    except Exception:
        return 0
    sig: list = []
    for i, f in enumerate(files):
        if i < _FINGERPRINT_STAT_CAP and f.startswith("file:"):
            try:
                st = os.stat(f[len("file:"):])
                sig.append((f, st.st_size, st.st_mtime_ns))
                continue
            except OSError:
                pass
        sig.append((f,))
    # a stable digest, not hash(): str hashing is salted per process
    return zlib.crc32(repr(sig).encode())


def semantic_store_key(edges: DataFrame, *extra) -> tuple | None:
    """Cache key from the analyzed plan's semanticHash + an input-files
    content fingerprint — None when the hash is unavailable (then callers
    build an uncached tempdir store)."""
    try:
        h = edges._jdf.queryExecution().analyzed().semanticHash()
    except Exception:
        return None
    return (int(h), _input_files_fingerprint(edges), *extra)


def cached_store_dir(key: tuple | None, prefix: str) -> tuple[str, bool]:
    """(path, hit) — the cached store dir for `key`, or a fresh tempdir
    (registered under `key` unless key is None). `hit` means a _SUCCESS
    store already exists there. Staleness caveat: the key stats local
    files only, so a non-local input rewritten in place under the same
    file name still hits the old store."""
    import shutil
    import tempfile

    if key is not None:
        path = _STORE_DIR_CACHE.get(key)
        if path is not None and store_exists(path):
            return path, True
    path = tempfile.mkdtemp(prefix=prefix)
    if key is not None:
        stale = _STORE_DIR_CACHE.get(key)
        if stale is not None:  # half-built dir from a failed run — reclaim
            shutil.rmtree(stale, ignore_errors=True)
        _STORE_DIR_CACHE[key] = path
        # evict oldest UNPINNED entries; a store mid-algorithm-run stays on
        # disk even if that temporarily overflows the cache bound
        if len(_STORE_DIR_CACHE) > _STORE_DIR_CACHE_MAX:
            evictable = [
                k for k, p in _STORE_DIR_CACHE.items()
                if p not in _STORE_DIR_PINS and p != path
            ]
            for old_key in evictable[: len(_STORE_DIR_CACHE) - _STORE_DIR_CACHE_MAX]:
                old = _STORE_DIR_CACHE.pop(old_key)
                shutil.rmtree(old, ignore_errors=True)
    return path, False


_GLOBAL_CSR_CACHE: dict[str, tuple] = {}


def load_global_csr(path: str, n: int, raw_weights: bool = False):
    """Merge every part of a push (CSR) block store into ONE global CSR
    (indptr[n+1], indices, w_norm), cached per process.

    For source-batched whole-graph kernels (Brandes betweenness, random
    walks) every task needs the full adjacency; the store is still BUILT
    distributed (write_edge_blocks) on shared storage — only the merge is
    per-worker, once, then page-cache/process-cache resident.
    """
    cache_key = (path, raw_weights)
    got = _GLOBAL_CSR_CACHE.get(cache_key)
    if got is not None:
        return got
    manifest = read_manifest(path)
    names = _PUSH_ARRAYS + ([_PUSH_RAW] if raw_weights else [])
    srcs, dsts, ws = [], [], []
    for k in range(int(manifest["num_blocks"])):
        blk = _load_part(path, k, names)
        if blk is None or len(blk["src_ids"]) == 0:
            continue
        indptr_k = np.asarray(blk["indptr"])
        srcs.append(np.repeat(np.asarray(blk["src_ids"]), np.diff(indptr_k)))
        dsts.append(np.asarray(blk["dst_uniq"])[np.asarray(blk["dst_code"])])
        ws.append(np.asarray(blk[_PUSH_RAW if raw_weights else "w_norm"]))
    if srcs:
        src = np.concatenate(srcs)
        dst = np.concatenate(dsts)
        w = np.concatenate(ws)
    else:
        src = np.empty(0, np.int64)
        dst = np.empty(0, np.int64)
        w = np.empty(0, np.float64)
    order = np.argsort(src, kind="stable")
    src, dst, w = src[order], dst[order], w[order]
    indptr = np.concatenate(
        ([0], np.cumsum(np.bincount(src, minlength=n)))
    ).astype(np.int64)
    got = (indptr, dst.astype(np.int64), w)
    _GLOBAL_CSR_CACHE[cache_key] = got
    if len(_GLOBAL_CSR_CACHE) > 64:
        _GLOBAL_CSR_CACHE.clear()
        _GLOBAL_CSR_CACHE[cache_key] = got
    return got


# ---------------------------------------------------------------- push (CSR)
def _build_push_writer(path: str):
    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        part = int(pdf["part"].iloc[0])
        src = pdf["src"].to_numpy(np.int64)
        dst = pdf["dst"].to_numpy(np.int64)
        w = pdf["weight"].to_numpy(np.float64)
        order = np.argsort(src, kind="stable")
        src, dst, w = src[order], dst[order], w[order]
        src_ids, counts = np.unique(src, return_counts=True)
        indptr = np.concatenate(([0], np.cumsum(counts)))
        wsum = np.add.reduceat(w, indptr[:-1]) if len(src_ids) else np.empty(0)
        w_norm = w / np.repeat(wsum, counts) if len(src) else w
        dst_uniq, dst_code = np.unique(dst, return_inverse=True)
        d = _part_dir(path, part)
        os.makedirs(d, exist_ok=True)
        _save_atomic(d, "src_ids", src_ids)
        _save_atomic(d, "indptr", indptr.astype(np.int64))
        _save_atomic(d, "w_norm", w_norm)
        _save_atomic(d, "dst_uniq", dst_uniq)
        _save_atomic(d, "dst_code", dst_code.astype(np.int32))
        _save_atomic(d, _PUSH_RAW, w)
        return pd.DataFrame({"part": [part], "n_edge": [len(src)]})

    return build


def write_edge_blocks(
    edges: DataFrame,
    num_blocks: int,
    path: str,
    weighted: bool | None = None,
    meta_extra: dict | None = None,
) -> None:
    """Materialize the CSR block store once under `path/part=K/*.npy`."""
    os.makedirs(path, exist_ok=True)
    e = edges.withColumn("part", F.pmod(F.col("src"), F.lit(num_blocks)).cast("int"))
    manifest = e.groupBy("part").applyInPandas(
        _build_push_writer(path), schema="part int, n_edge long"
    )
    meta = {"layout": "push"}
    if weighted is not None:
        meta["weighted"] = bool(weighted)
    if meta_extra:
        meta.update(meta_extra)
    _finalize_store(manifest, path, num_blocks, meta)


def _pack_rank_block(pdf: pd.DataFrame) -> pd.DataFrame:
    part = int(pdf["part"].iloc[0])
    ids = pdf["id"].to_numpy(np.int64)
    vals = pdf["val"].to_numpy(np.float64)
    order = np.argsort(ids, kind="stable")
    return pd.DataFrame(
        {"part": [part], "ids": [ids[order].tobytes()], "vals": [vals[order].tobytes()]}
    )


def pack_rank_blocks(ranks: DataFrame, value_col: str, num_blocks: int) -> DataFrame:
    """ranks(id, <value_col>) → per-partition sorted (ids, vals) buffers."""
    r = ranks.select(
        F.col("id"),
        F.col(value_col).cast("double").alias("val"),
        F.pmod(F.col("id"), F.lit(num_blocks)).cast("int").alias("part"),
    )
    return r.groupBy("part").applyInPandas(_pack_rank_block, schema=RANK_BLOCK_SCHEMA)


def scatter_partials(rank_blocks: DataFrame, block_path: str) -> DataFrame:
    """The scatter half of a push superstep: per-block bincount against
    the page-cache-resident CSR (map-side combine) → (dst, partial) rows,
    at most one per (block, target)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                blk = _load_part(block_path, int(row.part), _PUSH_ARRAYS)
                if blk is None or len(blk["src_ids"]) == 0:
                    continue
                ids = np.frombuffer(row.ids, np.int64)
                vals = np.frombuffer(row.vals, np.float64)
                src_ids = np.asarray(blk["src_ids"])
                pos = np.searchsorted(ids, src_ids)
                ok = (pos < len(ids)) & (
                    ids[np.minimum(pos, len(ids) - 1)] == src_ids
                )
                r_src = np.where(ok, vals[np.minimum(pos, len(ids) - 1)], 0.0)
                # reuse the per-edge buffer across supersteps: fresh ~8B/edge
                # anonymous allocations each superstep cost hundreds of ms of
                # page faults on large blocks (measured on the 403M-edge bench)
                key = ("pe", block_path, int(row.part))
                buf = _MMAP_CACHE.get(key)
                if buf is None or len(buf) != len(blk["w_norm"]):
                    buf = np.empty(len(blk["w_norm"]))
                    _MMAP_CACHE[key] = buf
                np.multiply(
                    np.repeat(r_src, np.diff(blk["indptr"])), blk["w_norm"], out=buf
                )
                partial = np.bincount(
                    blk["dst_code"], weights=buf, minlength=len(blk["dst_uniq"])
                )
                yield pd.DataFrame({"dst": np.asarray(blk["dst_uniq"]), "partial": partial})

    return rank_blocks.mapInPandas(run, schema="dst long, partial double")


def scatter_partials_combined(rank_blocks: DataFrame, block_path: str) -> DataFrame:
    """Scatter with task-level map-side combine (r6, fused-loop variant):
    each task's per-block partial vectors are merged (concat → sort →
    reduceat) BEFORE they cross the Arrow boundary, so the downstream
    repartition carries ≈ distinct-targets-per-task rows instead of one
    row per (block, target) — the JVM groupBy's partial aggregation did
    this for the unfused loop; the fused loop has to do it in-kernel.
    Pair with a volume-sized coalesce of the rank blocks so tasks hold
    several blocks' worth of real numpy work."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ds, ps = [], []
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                blk = _load_part(block_path, int(row.part), _PUSH_ARRAYS)
                if blk is None or len(blk["src_ids"]) == 0:
                    continue
                ids = np.frombuffer(row.ids, np.int64)
                vals = np.frombuffer(row.vals, np.float64)
                src_ids = np.asarray(blk["src_ids"])
                pos = np.searchsorted(ids, src_ids)
                ok = (pos < len(ids)) & (ids[np.minimum(pos, len(ids) - 1)] == src_ids)
                r_src = np.where(ok, vals[np.minimum(pos, len(ids) - 1)], 0.0)
                key = ("pe", block_path, int(row.part))
                buf = _MMAP_CACHE.get(key)
                if buf is None or len(buf) != len(blk["w_norm"]):
                    buf = np.empty(len(blk["w_norm"]))
                    _MMAP_CACHE[key] = buf
                np.multiply(
                    np.repeat(r_src, np.diff(blk["indptr"])), blk["w_norm"], out=buf
                )
                ds.append(np.asarray(blk["dst_uniq"]))
                ps.append(
                    np.bincount(
                        blk["dst_code"], weights=buf, minlength=len(blk["dst_uniq"])
                    )
                )
        if ds:
            d_ = np.concatenate(ds)
            p_ = np.concatenate(ps)
            o = np.argsort(d_, kind="stable")
            d_, p_ = d_[o], p_[o]
            u, idx = np.unique(d_, return_index=True)
            yield pd.DataFrame({"dst": u, "partial": np.add.reduceat(p_, idx)})

    return rank_blocks.mapInPandas(run, schema="dst long, partial double")


def scatter_gather(rank_blocks: DataFrame, block_path: str) -> DataFrame:
    """One push superstep: (dst, contrib = Σ rank(u)·w_norm(u,v)).

    Scatter (above) → global ``groupBy(dst).agg(sum)`` gather shuffle.
    """
    partials = scatter_partials(rank_blocks, block_path)
    return partials.groupBy("dst").agg(F.sum("partial").alias("contrib"))


def gather_pack(
    partials: DataFrame, num_blocks: int, damping: float, source_nodes=None
) -> DataFrame:
    """Fused gather + rank update + block pack (r6): ONE exchange per
    superstep instead of three. The partials stream (scatter output plus
    one injected zero row per no-in-edge node) is repartitioned by
    ``pmod(dst, num_blocks)`` and each task sums per target, applies
    (1−d)·t + d·contrib (the teleport is row-local — unpersonalized 1.0
    or an isin over the seed list), and emits the next superstep's packed
    rank block directly — the old loop paid a gather groupBy, a nodes
    left-join, and the pack groupBy as three separate exchanges. Per-task
    state is the partition's distinct targets (≈ n/num_blocks ids), the
    same bound as a CSC block."""
    seeds = (
        np.array(sorted(int(s) for s in source_nodes), dtype=np.int64)
        if source_nodes is not None
        else None
    )
    d = float(damping)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: dict[int, list] = {}
        for pdf in batches:
            dst = pdf["dst"].to_numpy(np.int64)
            val = pdf["partial"].to_numpy(np.float64)
            parts = np.mod(dst, num_blocks)
            for part in np.unique(parts):
                m = parts == part
                d_, p_ = dst[m], val[m]
                o = np.argsort(d_, kind="stable")
                d_, p_ = d_[o], p_[o]
                u, idx = np.unique(d_, return_index=True)
                acc.setdefault(int(part), []).append((u, np.add.reduceat(p_, idx)))
        for part, chunks in acc.items():
            d_ = np.concatenate([c[0] for c in chunks])
            s_ = np.concatenate([c[1] for c in chunks])
            o = np.argsort(d_, kind="stable")
            d_, s_ = d_[o], s_[o]
            u, idx = np.unique(d_, return_index=True)
            contrib = np.add.reduceat(s_, idx)
            t = 1.0 if seeds is None else np.isin(u, seeds).astype(np.float64)
            vals = (1.0 - d) * t + d * contrib
            yield pd.DataFrame(
                {"part": [int(part)], "ids": [u.tobytes()], "vals": [vals.tobytes()]}
            )

    return partials.repartition(
        num_blocks, F.pmod(F.col("dst"), F.lit(num_blocks))
    ).mapInPandas(run, schema=RANK_BLOCK_SCHEMA)


def unpack_rank_blocks(rank_blocks: DataFrame) -> DataFrame:
    """(part, ids, vals) packed blocks → (id, rank) rows."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                yield pd.DataFrame(
                    {
                        "id": np.frombuffer(row.ids, np.int64),
                        "rank": np.frombuffer(row.vals, np.float64),
                    }
                )

    return rank_blocks.mapInPandas(run, schema="id long, rank double")


# ---------------------------------------------------------------- pull (CSC)
def _build_pull_writer(path: str, num_blocks: int):
    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        part = int(pdf["part"].iloc[0])
        src = pdf["src"].to_numpy(np.int64)
        dst = pdf["dst"].to_numpy(np.int64)
        wn = pdf["w_norm"].to_numpy(np.float64)
        order = np.argsort(dst, kind="stable")
        src, dst, wn = src[order], dst[order], wn[order]
        slice_pos = (dst - part) // num_blocks
        d = _part_dir(path, part)
        os.makedirs(d, exist_ok=True)
        _save_atomic(d, "src", src if len(src) == 0 or src.max() >= 2**31
                     else src.astype(np.int32))
        _save_atomic(
            d,
            "slice_pos",
            slice_pos.astype(np.int32)
            if slice_pos.size == 0 or slice_pos.max() < 2**31
            else slice_pos,
        )
        _save_atomic(d, "w_norm", wn)
        return pd.DataFrame({"part": [part], "n_edge": [len(src)]})

    return build


def write_pull_blocks(
    edges: DataFrame,
    num_blocks: int,
    path: str,
    weighted: bool | None = None,
    denom_add: float = 0.0,
    normalize: bool = True,
) -> None:
    """edges(src,dst,weight) → CSC store under `path/part=K/*.npy`.

    w_norm = w/(W(src)+denom_add) via one DataFrame join (src degrees are
    global here, unlike the src-partitioned push build where they're
    partition-local). `denom_add` bakes ArticleRank's `outdeg + avgdeg`
    denominator into the store; `normalize=False` stores raw weights
    (eigenvector power iteration).
    """
    os.makedirs(path, exist_ok=True)
    if normalize:
        wsum = edges.groupBy("src").agg(F.sum("weight").alias("_wsum"))
        e = edges.join(wsum, "src").select(
            "src",
            "dst",
            (F.col("weight") / (F.col("_wsum") + F.lit(float(denom_add)))).alias(
                "w_norm"
            ),
            F.pmod(F.col("dst"), F.lit(num_blocks)).cast("int").alias("part"),
        )
    else:
        e = edges.select(
            "src",
            "dst",
            F.col("weight").alias("w_norm"),
            F.pmod(F.col("dst"), F.lit(num_blocks)).cast("int").alias("part"),
        )
    manifest = e.groupBy("part").applyInPandas(
        _build_pull_writer(path, num_blocks), schema="part int, n_edge long"
    )
    meta = {"layout": "pull"}
    if weighted is not None:
        meta["weighted"] = bool(weighted)
    _finalize_store(manifest, path, num_blocks, meta)


def pull_superstep(
    sc, block_path: str, num_blocks: int, n: int, p: np.ndarray
) -> np.ndarray:
    """One pull superstep: broadcast p, per-slice gather, reassemble on driver.

    Returns the contribution vector Σ_{u→v} p[u]·w_norm(u,v), indexed by id.
    """
    bc = sc.broadcast(p)

    def task(part: int):
        blk = _load_part(block_path, part, _PULL_ARRAYS)
        slice_len = max(0, (n - part + num_blocks - 1) // num_blocks)
        if blk is None:
            return part, np.zeros(slice_len).tobytes()
        # per-edge buffer reuse (see scatter_gather): avoids ~8B/edge of
        # fresh anonymous pages + faults every superstep
        key = ("pe", block_path, part)
        buf = _MMAP_CACHE.get(key)
        if buf is None or len(buf) != len(blk["w_norm"]):
            buf = np.empty(len(blk["w_norm"]))
            _MMAP_CACHE[key] = buf
        np.take(bc.value, blk["src"], out=buf)
        np.multiply(buf, blk["w_norm"], out=buf)
        contrib = np.bincount(blk["slice_pos"], weights=buf, minlength=slice_len)
        return part, contrib.tobytes()

    n_tasks = _pull_task_count(block_path, num_blocks)
    results = sc.parallelize(range(num_blocks), n_tasks).map(task).collect()
    out = np.zeros(n)
    for part, buf in results:
        out[part::num_blocks] = np.frombuffer(buf, np.float64)
    bc.destroy()
    return out


def pull_engine(sc, block_path: str, num_blocks: int, n: int):
    """→ step(p) -> contrib, choosing the execution side ONCE per run.

    Hybrid crossover (same DRIVER_EDGE_THRESHOLD contract as union-find /
    coarsened Louvain / InfoMap): when the store's total edge count — read
    from the manifest, no job — fits the driver budget, each superstep is
    a driver-local gather-multiply-bincount over the SAME mmap'd block
    arrays (zero Spark jobs per superstep; this host's per-job floor is
    ~150-350 ms, which dominated every superstep of a small graph).
    Beyond the threshold, the distributed one-job ``pull_superstep`` path
    is unchanged — the 100 TB shape is identical, only the barrier moves.
    """
    manifest = read_manifest(block_path)
    n_edges = sum(int(v) for v in manifest["parts"].values())
    if n_edges > DRIVER_EDGE_THRESHOLD:
        return lambda p: pull_superstep(sc, block_path, num_blocks, n, p)
    parts = []
    for k in range(num_blocks):
        blk = _load_part(block_path, k, _PULL_ARRAYS)
        if blk is not None and len(blk["w_norm"]):
            parts.append(
                (
                    k,
                    np.asarray(blk["src"]),
                    np.asarray(blk["slice_pos"]),
                    np.asarray(blk["w_norm"]),
                    max(0, (n - k + num_blocks - 1) // num_blocks),
                )
            )

    def step(p: np.ndarray) -> np.ndarray:
        out = np.zeros(n)
        for k, src, slice_pos, w, slice_len in parts:
            out[k::num_blocks] = np.bincount(
                slice_pos, weights=p[src] * w, minlength=slice_len
            )
        return out

    return step


def pull_engine_multi(sc, block_path: str, num_blocks: int, n: int):
    """Multi-vector twin of :func:`pull_engine` (n×k matrices)."""
    manifest = read_manifest(block_path)
    n_edges = sum(int(v) for v in manifest["parts"].values())
    if n_edges > DRIVER_EDGE_THRESHOLD:
        return lambda P: pull_superstep_multi(sc, block_path, num_blocks, n, P)
    parts = []
    for k in range(num_blocks):
        blk = _load_part(block_path, k, _PULL_ARRAYS)
        if blk is not None and len(blk["w_norm"]):
            parts.append(
                (
                    k,
                    np.asarray(blk["src"]),
                    np.asarray(blk["slice_pos"]),
                    np.asarray(blk["w_norm"]),
                    max(0, (n - k + num_blocks - 1) // num_blocks),
                )
            )

    def step(P: np.ndarray) -> np.ndarray:
        kk = P.shape[1]
        out = np.zeros((n, kk))
        for k, src, slice_pos, w, slice_len in parts:
            o = np.empty((slice_len, kk))
            for j in range(kk):
                o[:, j] = np.bincount(
                    slice_pos, weights=P[src, j] * w, minlength=slice_len
                )
            out[k::num_blocks, :] = o
        return out

    return step


def pull_superstep_multi(
    sc, block_path: str, num_blocks: int, n: int, P: np.ndarray
) -> np.ndarray:
    """One pull superstep over k vectors at once: broadcast the n×k matrix
    ONCE and compute every column's gather inside a single job — k-fold
    fewer scheduler round-trips and broadcasts than k `pull_superstep`
    calls (the hot loop of subspace/orthogonal iteration)."""
    k = P.shape[1]
    bc = sc.broadcast(np.ascontiguousarray(P))

    def task(part: int):
        blk = _load_part(block_path, part, _PULL_ARRAYS)
        slice_len = max(0, (n - part + num_blocks - 1) // num_blocks)
        if blk is None:
            return part, np.zeros((slice_len, k)).tobytes()
        src, w = blk["src"], blk["w_norm"]
        out = np.empty((slice_len, k))
        for j in range(k):
            out[:, j] = np.bincount(
                blk["slice_pos"], weights=bc.value[src, j] * w,
                minlength=slice_len,
            )
        return part, out.tobytes()

    n_tasks = _pull_task_count(block_path, num_blocks)
    results = sc.parallelize(range(num_blocks), n_tasks).map(task).collect()
    out = np.zeros((n, k))
    for part, buf in results:
        out[part::num_blocks, :] = np.frombuffer(buf, np.float64).reshape(-1, k)
    bc.destroy()
    return out
