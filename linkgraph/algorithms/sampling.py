"""GraphSAGE-style k-hop neighbor sampling (Hamilton et al., NIPS 2017).

Minibatch construction for graph learning over a link graph: given a set
of seed nodes and per-hop fanouts [f1, f2, ...], keep at most f_k
neighbors per frontier node at hop k. Sampling is DETERMINISTIC — each
node keeps the f neighbors with the smallest value of a fixed affine
hash of (src, dst) — so results are reproducible across runs, partition
counts, and engines (the same rule is expressible as a ROW_NUMBER window
in ANSI SQL, which is what the DuckDB oracle replays).

Scale shape
-----------
The naive formulation is a row_number window partitioned by src — one
reducer per node, which a power-law hub (degree 1e8+) turns into a
straggler. Bounding it takes TWO mechanisms, because collect_list's
final merge still holds a whole group regardless of salting:

1. THRESHOLD PREFILTER: since rank hashes are uniform on [0, M), a
   node of degree d expects its f smallest hashes below M·(c·f/d) for
   oversample factor c — so edges with hash ≥ that per-node threshold
   are dropped BEFORE any aggregation (one degree join + a map-side
   filter). Expected surviving edges per node: c·f, independent of d —
   the 1e8-degree hub contributes ~c·f rows, not 1e8.
2. EXACT FALLBACK: a node whose prefilter kept fewer than min(f, d)
   edges (Poisson tail, rare) is re-sampled over its full adjacency, so
   the result is EXACTLY the deterministic top-f — never approximate.

The per-node top-f over survivors runs as a salted two-stage
aggregation (groupBy(src, hash(dst)%S) partial sort-slice, then
groupBy(src) merge) — min-f-by-key is associative, so this equals the
single-window result without planning a Window operator at all. Per
hop: bounded shuffles only; the frontier join is broadcast-able
whenever the seed set is small (Catalyst/AQE decide).

Reference parity: the reference engine has no sampler proc (closest is
algo.randomWalk's neighbor selection, core/utils/RandomProvider usage);
this operator is engine-added for the LLM-training-pipeline surface
(GNN minibatch fan-out over the repo dependency graph).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, functions as F

# Affine hash constants (glibc LCG multiplier/increment). Small enough
# that A*dst stays inside int64 for node ids < ~8e9; for 1e12-file-scale
# id spaces swap in F.xxhash64(src, dst) via hash_expr (the SQL oracle is
# the only reason the affine form is the default).
HASH_A = 1103515245
HASH_B = 12345
HASH_M = 2147483648  # 2^31


def _rank_hash(src: F.Column | str, dst: F.Column | str) -> F.Column:
    return (
        F.lit(HASH_A) * F.col(dst if isinstance(dst, str) else "dst")
        + F.lit(HASH_B) * F.col(src if isinstance(src, str) else "src")
    ) % F.lit(HASH_M)


def _topf_salted(withh: DataFrame, fanout: int, salt_buckets: int) -> DataFrame:
    """Exact per-src min-`fanout` by (_h, dst) via salted two-stage agg —
    associative, so identical to a row_number window without one."""
    partial = withh.groupBy(
        "src", F.pmod(F.xxhash64("dst"), F.lit(salt_buckets)).alias("_s")
    ).agg(
        F.slice(
            F.array_sort(F.collect_list(F.struct("_h", "dst"))), 1, fanout
        ).alias("part")
    )
    merged = partial.groupBy("src").agg(
        F.slice(F.array_sort(F.flatten(F.collect_list("part"))), 1, fanout).alias(
            "top"
        )
    )
    return merged.select("src", F.explode("top").alias("t")).select(
        "src", F.col("t.dst").alias("dst")
    )


def sample_neighbors(
    edges: DataFrame,
    fanout: int,
    salt_buckets: int = 8,
    oversample: float = 4.0,
) -> DataFrame:
    """(src, dst) — for each src keep the `fanout` neighbors with the
    smallest (rank_hash, dst). Exact at every degree; reducer state is
    bounded by the threshold prefilter + rare-node fallback (see module
    docstring): a hub's adjacency never reaches an aggregation buffer."""
    e = edges.select("src", "dst")
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("_d"))
    withh = e.join(deg, "src").withColumn("_h", _rank_hash("src", "dst"))
    thresh = (
        F.least(F.lit(1.0), F.lit(float(oversample * fanout)) / F.col("_d"))
        * F.lit(float(HASH_M))
    )
    # lazy checkpoint (r6): pref fans out to the top-f stage AND the
    # fallback, which land in the SAME downstream job — it computes once
    # and truncates lineage (the eager form paid an extra job per hop)
    pref = withh.where(F.col("_h") < thresh).localCheckpoint(eager=False)
    # r6: the deficiency check rides the salted top-f itself — the merge
    # stage already sees every survivor of a src, so the kept-count (and
    # the degree, constant per src) come out of the SAME two aggregations
    # instead of a separate groupBy + join funnel.
    partial = pref.groupBy(
        "src", F.pmod(F.xxhash64("dst"), F.lit(salt_buckets)).alias("_s")
    ).agg(
        F.slice(
            F.array_sort(F.collect_list(F.struct("_h", "dst"))), 1, fanout
        ).alias("part"),
        F.count(F.lit(1)).alias("_kp"),
        F.max("_d").alias("_d"),
    )
    merged = partial.groupBy("src").agg(
        F.slice(F.array_sort(F.flatten(F.collect_list("part"))), 1, fanout).alias(
            "top"
        ),
        F.sum("_kp").alias("_k"),
        F.max("_d").alias("_d"),
    )
    # nodes whose prefilter kept fewer than min(f, d) rows cannot be
    # proven complete — re-rank their FULL adjacency (the Poisson left
    # tail at mean oversample*f: rare, and each is one node). The
    # deg ⟕ merged probe also catches srcs with ZERO survivors, which
    # never reach `merged` at all.
    complete = F.col("_k") >= F.least(F.lit(fanout).cast("long"), F.col("_d"))
    ok = (
        merged.where(complete)
        .select("src", F.explode("top").alias("t"))
        .select("src", F.col("t.dst").alias("dst"))
    )
    deficient = (
        deg.join(merged.select("src", "_k"), "src", "left")
        .where(
            F.coalesce(F.col("_k"), F.lit(0))
            < F.least(F.lit(fanout).cast("long"), F.col("_d"))
        )
        .select("src")
    )
    fallback = _topf_salted(
        withh.join(deficient, "src").select("src", "dst", "_h"),
        fanout,
        salt_buckets,
    )
    return ok.unionByName(fallback)


def _k_hop_sample_local(ep, seeds: DataFrame, fanouts) -> DataFrame:
    """Driver-local k-hop sampling over the collected (src, dst) edges
    ``ep`` (r6 hybrid crossover). All arithmetic is exact int64 (the same
    affine rank hash), and per-src top-f is a lexsort by (src, hash, dst)
    — identical rows to the distributed salted top-f and to the SQL
    oracle's ROW_NUMBER."""
    import numpy as np
    import pandas as pd

    src = ep["src"].to_numpy(np.int64)
    dst = ep["dst"].to_numpy(np.int64)
    frontier = np.unique(
        seeds.select(F.col(seeds.columns[0]).cast("long")).toPandas().iloc[:, 0]
        .to_numpy(np.int64)
    )
    hop_frames = []
    for hop, fanout in enumerate(fanouts, start=1):
        mask = np.isin(src, frontier)
        cs, cd = src[mask], dst[mask]
        h = (HASH_A * cd + HASH_B * cs) % HASH_M
        order = np.lexsort((cd, h, cs))
        cs, cd = cs[order], cd[order]
        uniq, start = np.unique(cs, return_index=True)
        if len(cs):
            grp_start = np.repeat(start, np.diff(np.append(start, len(cs))))
            keep = (np.arange(len(cs)) - grp_start) < fanout
        else:
            keep = np.zeros(0, dtype=bool)
        hop_frames.append(
            pd.DataFrame({"hop": np.int32(hop), "src": cs[keep], "dst": cd[keep]})
        )
        frontier = np.unique(cd[keep])
    out = pd.concat(hop_frames, ignore_index=True)
    return seeds.sparkSession.createDataFrame(
        out, schema="hop int, src long, dst long"
    )


def k_hop_sample(
    edges: DataFrame,
    seeds: DataFrame,
    fanouts: Sequence[int],
    salt_buckets: int = 8,
) -> DataFrame:
    """(hop, src, dst) — the sampled computation graph: hop 1 keeps
    fanouts[0] neighbors per seed, hop k keeps fanouts[k-1] neighbors per
    hop-(k-1) frontier node. The frontier joins BEFORE sampling so only
    touched adjacency lists are read (predicate reaches the scan when
    `edges` is a plain source). One localCheckpoint per hop truncates
    lineage — the frontier feeds both the output and the next hop."""
    if not fanouts:
        raise ValueError("fanouts must name at least one hop, e.g. (25, 10)")
    from linkgraph.algorithms import blocks

    # bounded probe + collect: huge edge inputs never pay a full scan just
    # to be told to stay distributed
    ep = blocks.collect_if_small(edges.select("src", "dst"))
    if ep is not None:
        return _k_hop_sample_local(ep, seeds, fanouts)
    frontier = seeds.select(
        F.col(seeds.columns[0]).cast("long").alias("src")
    ).distinct()
    hops: list[DataFrame] = []
    for hop, fanout in enumerate(fanouts, start=1):
        cand = edges.select("src", "dst").join(frontier, "src")
        samp = (
            sample_neighbors(cand, fanout, salt_buckets)
            .select(
                F.lit(hop).cast("int").alias("hop"),
                F.col("src").cast("long").alias("src"),
                F.col("dst").cast("long").alias("dst"),
            )
            # lazy: the output union and the next hop's frontier are both
            # parts of the one final job — it materializes every hop's
            # slice in a single pass (was one eager job per hop)
            .localCheckpoint(eager=False)
        )
        hops.append(samp)
        frontier = samp.select(F.col("dst").alias("src")).distinct()
    out = hops[0]
    for d in hops[1:]:
        out = out.unionByName(d)
    return out
