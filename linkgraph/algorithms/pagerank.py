"""PageRank family — `algo.pageRank`, `algo.articleRank`, `algo.eigenvector`.

Reference: `algo/src/main/java/org/neo4j/graphalgo/PageRankProc.java` and
`algo/.../impl/pagerank/{PageRank,ComputeSteps,BaseComputeStep,
WeightedComputeStep,DegreeComputer}.java`. Semantics preserved exactly
(SURVEY.md §2.8): **unnormalized** PageRank

    p(v) = (1 − d) · t(v) + d · Σ_{u→v} p(u) · w(u,v) / W(u)

with t ≡ 1 (or the indicator of ``source_nodes`` for personalized PR),
no dangling-mass redistribution, no 1/N normalization — hub scores ≫ 1.
Early exit on ``tolerance`` (max |Δ| across nodes), as in 3.5.x.

Execution re-imagined for Spark instead of the reference's shared-memory
BSP float[] buffers — one vertex program, two physical plans picked by
data size:

* ``strategy='auto'`` (default): resolves per run to ``pull`` when node
  ids are contiguous and the rank vector fits a memory-aware driver
  budget (``blocks._resolve_strategy``) and every edge endpoint is a node
  id, else ``csr``.
* ``strategy='pull'``: dst-sliced CSC blocks and one broadcast rank
  vector, zero shuffle per superstep (blocks.pull_engine). A
  driver-sized graph costs no shuffle at all: the store is built on the
  driver from one collect of the raw edges (``blocks.open_store``), the
  teleport vector is built in numpy and every superstep is driver-local.
* ``strategy='csr'``: per-partition CSR blocks inside Arrow UDFs
  (blocks.py), one exchange per superstep. The scatter sums per (source
  block, dst) and the fused gather sums per dst: a two-stage salted
  combine whose salt buckets are the B source blocks, so a hub receives
  at most B partial rows however high its in-degree.

Per-superstep checkpoints (io.CheckpointManager) give resumability +
lineage truncation; metrics mirror the reference's stats row
(loadMillis/computeMillis/iterations/didConverge).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from linkgraph.algorithms import blocks
from linkgraph.graph import Graph
from linkgraph.io import CheckpointManager


STRATEGIES = ("auto", "pull", "csr")


@dataclass
class RunMetrics:
    iterations: int = 0
    did_converge: bool = False
    compute_millis: int = 0
    superstep_millis: list[int] = field(default_factory=list)
    deltas: list[float] = field(default_factory=list)
    resumed_from: int | None = None


class PageRank:
    def __init__(
        self,
        damping: float = 0.85,
        max_iterations: int = 20,
        tolerance: float | None = None,
        weighted: bool = False,
        source_nodes: list[int] | None = None,
        strategy: str = "auto",
        num_blocks: int | None = None,
        checkpoint: CheckpointManager | None = None,
        checkpoint_every: int = 0,
        block_store: str | None = None,
    ):
        if strategy not in STRATEGIES:
            raise ValueError(
                f"unknown PageRank strategy {strategy!r}; "
                f"expected one of {', '.join(STRATEGIES)}"
            )
        self.damping = damping
        self.max_iterations = max_iterations
        self.tolerance = tolerance
        self.weighted = weighted
        self.source_nodes = source_nodes
        self.strategy = strategy
        self.num_blocks = num_blocks
        self.checkpoint = checkpoint
        self.checkpoint_every = checkpoint_every
        self.block_store = block_store
        self.metrics = RunMetrics()
        self._resolved = None

    # ------------------------------------------------------------------ setup
    def _teleport(self, nodes: DataFrame) -> DataFrame:
        if self.source_nodes is None:
            return nodes.select("id", F.lit(1.0).alias("t"))
        srcs = [int(s) for s in self.source_nodes]
        return nodes.select(
            "id", F.when(F.col("id").isin(srcs), 1.0).otherwise(0.0).alias("t")
        )

    def _teleport_vector(self, n: int) -> np.ndarray:
        """The teleport t over the node ids 0..n-1; a source id that is no
        node id is ignored, as the isin over the node table ignores it."""
        if self.source_nodes is None:
            return np.ones(n)
        seeds = np.array([int(s) for s in self.source_nodes], dtype=np.int64)
        t = np.zeros(n)
        t[seeds[(seeds >= 0) & (seeds < n)]] = 1.0
        return t

    # ------------------------------------------------------------- pull loop
    def _run_pull(self, graph: Graph, n: int | None, m: int) -> DataFrame:
        """Broadcast-pull execution: dst-sliced CSC blocks, zero shuffle.

        The rank vector lives on the driver (the BSP barrier); each superstep
        broadcasts q = p/W and every block computes its target slice with one
        gather + one bincount. Requires contiguous ids 0..n-1 (``n`` and
        the edge-row count ``m`` from ``blocks._resolve_strategy``: n is
        None when the ids are not 0..n-1, 0 for an empty node table),
        every edge endpoint among them, and a
        vector that fits driver/executor memory — the fast path below ~10⁸
        nodes; 'csr' (push + shuffle gather) is the path beyond that.
        Returns None, for run() to take csr, when ``auto`` finds an
        endpoint that is not a node id (the store's manifest records the
        range, so the check costs no job).
        """
        spark = graph.edges.sparkSession
        sc = spark.sparkContext
        d = self.damping
        edges = (
            graph.edges
            if self.weighted
            else graph.edges.withColumn("weight", F.lit(1.0))
        )
        if n is None:
            raise ValueError(
                "pull strategy requires contiguous node ids 0..n-1 "
                "(densify first, or use strategy='csr')"
            )
        if n == 0:
            return graph.nodes.select("id", F.lit(0.0).alias("rank"))
        t = self._teleport_vector(n)

        block_path, b = blocks.pull_store(
            edges, m, self.block_store, self.num_blocks, weighted=self.weighted
        )
        bad = blocks.endpoints_outside(block_path, n)
        if bad is not None:
            if self.strategy == "auto":
                return None
            raise ValueError(
                "pull strategy requires every edge endpoint to be a node id "
                f"0..{n - 1}; the edges reach ids {bad[0]}..{bad[1]} "
                "(drop those edges, or use strategy='csr')"
            )

        p = t.copy()
        start_step = 0
        if self.checkpoint is not None:
            latest = self.checkpoint.latest(fmt="pagerank/ranks-v1")
            if latest is not None:
                start_step, ck_df, _ = latest
                ck_pd = ck_df.toPandas()
                p = np.zeros(n)
                p[ck_pd["id"].to_numpy(np.int64)] = ck_pd["rank"].to_numpy(np.float64)
                self.metrics.resumed_from = start_step

        converged = False
        step = start_step
        with blocks.pinned_store(block_path):
            # execution side resolved once — driver-local numpy gather when
            # the store's edge count fits DRIVER_EDGE_THRESHOLD (zero jobs
            # per superstep), the distributed pull job beyond it
            pull_step = blocks.pull_engine(sc, block_path, b, n)
            while step < self.max_iterations:
                it0 = time.time()
                contrib = pull_step(p)
                p_new = (1.0 - d) * t + d * contrib
                step += 1
                delta = float(np.abs(p_new - p).max())
                self.metrics.deltas.append(delta)
                p = p_new
                if self.checkpoint is not None and (
                    self.checkpoint_every and step % self.checkpoint_every == 0
                ):
                    ck_df = spark.createDataFrame(
                        pd.DataFrame({"id": np.arange(n), "rank": p})
                    )
                    self.checkpoint.write(ck_df, step, {"delta": delta, "iteration": step}, fmt="pagerank/ranks-v1")
                self.metrics.superstep_millis.append(int((time.time() - it0) * 1000))
                if self.tolerance is not None and delta < self.tolerance:
                    converged = True
                    break

        self.metrics.iterations = step
        self.metrics.did_converge = converged
        return spark.createDataFrame(pd.DataFrame({"id": np.arange(n), "rank": p}))

    # -------------------------------------------------------------- csr loop
    def _run_csr(self, graph: Graph) -> DataFrame:
        """Push execution over the CSR block store, one exchange per
        superstep: scatter partials (summed per task) plus one zero row per
        no-in-edge node → repartition(pmod(dst, b)) → fused
        gather/update/pack emits the next superstep's rank blocks directly.
        The tolerance check and the checkpoints read those blocks; a resume
        packs the checkpointed (id, rank) table like the teleport table."""
        d = self.damping
        nodes = self._teleport(graph.nodes)
        edges = (
            graph.edges
            if self.weighted
            else graph.edges.withColumn("weight", F.lit(1.0))
        )
        # materialize the CSR block store once (worker-resident thereafter)
        block_path, b = blocks.open_store(
            edges, "push", self.block_store, self.num_blocks, weighted=self.weighted
        )

        ranks = nodes.select("id", F.col("t").alias("rank"))
        step = 0
        if self.checkpoint is not None:
            latest = self.checkpoint.latest(fmt="pagerank/ranks-v1")
            if latest is not None:
                step, ranks, _ = latest
                self.metrics.resumed_from = step
        # nodes with no in-edges get no scatter partial; a zero row each
        # makes the gather emit their constant rank (1−d)·t
        static_zero = (
            nodes.join(
                edges.select(F.col("dst").alias("id")).distinct(), "id", "left_anti"
            )
            .select(F.col("id").alias("dst"), F.lit(0.0).alias("partial"))
            .localCheckpoint(eager=True)
        )
        rank_blocks = blocks.pack_rank_blocks(ranks, "rank", b).localCheckpoint(
            eager=True
        )
        n_tasks = blocks._pull_task_count(block_path, b)
        converged = False
        with blocks.pinned_store(block_path):
            while step < self.max_iterations:
                it0 = time.time()
                partials = blocks.scatter_partials_combined(
                    rank_blocks.coalesce(n_tasks), block_path
                ).unionByName(static_zero)
                # eager localCheckpoint = superstep barrier + lineage
                # truncation (the reference's BSP sync point; durable
                # resume = CheckpointManager)
                new_blocks = blocks.gather_pack(
                    partials, b, d, self.source_nodes
                ).localCheckpoint(eager=True)
                step += 1
                delta = None
                if self.tolerance is not None:
                    delta = blocks.rank_block_delta(new_blocks, rank_blocks)
                    self.metrics.deltas.append(delta)
                if self.checkpoint is not None and (
                    self.checkpoint_every and step % self.checkpoint_every == 0
                ):
                    self.checkpoint.write(
                        blocks.unpack_rank_blocks(new_blocks), step,
                        {"delta": delta, "iteration": step}, fmt="pagerank/ranks-v1",
                    )
                rank_blocks = new_blocks
                self.metrics.superstep_millis.append(int((time.time() - it0) * 1000))
                if delta is not None and delta < self.tolerance:
                    converged = True
                    break

        self.metrics.iterations = step
        self.metrics.did_converge = converged
        return blocks.unpack_rank_blocks(rank_blocks)

    # -------------------------------------------------------------------- run
    def resolve(self, graph: Graph) -> str:
        """Resolve ``strategy`` for ``graph`` now (one aggregate,
        ``blocks._resolve_strategy``) and keep the result for the next
        run() on the same graph, for a caller whose own settings depend on
        the side (InfoMap's tolerance)."""
        self._resolved = (
            graph, *blocks._resolve_strategy(graph.nodes, graph.edges, self.strategy)
        )
        return self._resolved[1]

    def run(self, graph: Graph) -> DataFrame:
        # resolved per RUN into a local + resolved_strategy: a reused auto
        # instance must re-resolve for each new graph
        if self._resolved is None or self._resolved[0] is not graph:
            self.resolve(graph)
        _, strategy, n, m = self._resolved
        self._resolved = None
        t0 = time.time()
        out = self._run_pull(graph, n, m) if strategy == "pull" else None
        if out is None:  # csr asked for, or auto found a non-node endpoint
            strategy = "csr"
            out = self._run_csr(graph)
        self.resolved_strategy = strategy
        self.metrics.compute_millis = int((time.time() - t0) * 1000)
        out.iterations = self.metrics.iterations
        out.did_converge = self.metrics.did_converge
        return out


def pagerank(graph: Graph, **kwargs) -> DataFrame:
    """Functional form: ``pagerank(g, damping=0.85, ...)`` → (id, rank)."""
    return PageRank(**kwargs).run(graph)


def _pull_power_iteration(
    graph: Graph,
    max_iterations: int,
    step,
    denom_add: float = 0.0,
    normalize: bool = True,
    tolerance: float | None = None,
    finish=None,
) -> DataFrame | None:
    """Shared CSC-block power-iteration driver over the unweighted edges:
    open the pull store once (blocks.open_store: one shuffle to build it,
    none when the plan-keyed cache already holds it — Katz/ArticleRank/
    Eigenvector re-runs on the same logical edge table skip the rebuild),
    then zero-shuffle supersteps inside the store pin; `step(p, contrib)`
    returns the next vector and `finish(p)` post-processes the last one.
    Returns the (id, rank) table, or None when the graph does not qualify
    for the pull engine (blocks._pull_size, or an edge endpoint that is no
    node id) and the caller runs its join loop."""
    n, m = blocks._pull_size(graph.nodes, graph.edges)
    if n is None:
        return None
    edges = graph.edges.select("src", "dst").withColumn("weight", F.lit(1.0))
    path, b = blocks.pull_store(edges, m, denom_add=denom_add, normalize=normalize)
    if blocks.endpoints_outside(path, n) is not None:
        return None
    p = np.ones(n)
    with blocks.pinned_store(path):
        pull_step = blocks.pull_engine(edges.sparkSession.sparkContext, path, b, n)
        for _ in range(max_iterations):
            contrib = pull_step(p)
            p_new = step(p, contrib)
            delta = float(np.abs(p_new - p).max())
            p = p_new
            if tolerance is not None and delta < tolerance:
                break
    if finish is not None:
        p = finish(p)
    return edges.sparkSession.createDataFrame(
        pd.DataFrame({"id": np.arange(n), "rank": p})
    )


def _join_power_loop(
    nodes: DataFrame,
    edges: DataFrame,
    share_fn,
    update_fn,
    max_iterations: int,
    tolerance: float | None = None,
    step_post=None,
):
    """Shared DataFrame-join power-iteration scaffold — the
    non-contiguous-id fallback for ArticleRank / Eigenvector / Katz (one
    implementation instead of three hand-kept copies). Per iteration: one
    edges⋈share shuffle + map-side-combining groupBy(dst).sum + left-join
    update, eager localCheckpoint, optional per-step post-transform
    (eigenvector's L2 stabilization) and max|Δ| early exit.

    The superseded checkpoint is unpersisted once the next iterate is
    materialized and its delta read — otherwise every iteration pins one
    full rank-table copy in the block manager for the life of the plan.
    Returns (ranks, converged)."""
    ranks = nodes.select("id", F.lit(1.0).alias("rank"))
    prev_ck = None
    converged = False
    for _ in range(max_iterations):
        share = share_fn(ranks)
        contribs = (
            edges.join(share, edges.src == share.id)
            .groupBy("dst")
            .agg(F.sum("share").alias("contrib"))
        )
        new_ck = (
            nodes.join(contribs, nodes.id == contribs.dst, "left")
            .select(
                "id",
                update_fn(F.coalesce(F.col("contrib"), F.lit(0.0))).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
        new_ranks = step_post(new_ck) if step_post is not None else new_ck
        delta = None
        if tolerance is not None:
            delta = (
                new_ranks.alias("n")
                .join(ranks.alias("o"), "id")
                .agg(F.max(F.abs(F.col("n.rank") - F.col("o.rank"))))
                .first()[0]
            ) or 0.0
        if prev_ck is not None:
            prev_ck.unpersist()
        prev_ck = new_ck
        ranks = new_ranks
        if tolerance is not None and delta < tolerance:
            converged = True
            break
    return ranks, converged


def article_rank(
    graph: Graph,
    damping: float = 0.85,
    max_iterations: int = 20,
    tolerance: float | None = None,
) -> DataFrame:
    """`algo.articleRank` — PR variant with denominator outdeg(u) + avg_outdeg.

    Reference: `algo/.../ArticleRankProc.java` (variant compute step in
    impl/pagerank/). Contribution = p(u) / (outdeg(u) + mean outdeg).
    Runs on the shared CSC-block engine (denominator baked into w_norm at
    store build: w/(W+avgdeg)) when the graph qualifies; join loop otherwise.
    """
    edges, nodes = graph.edges, graph.nodes.select("id")
    outdeg = edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).cast("double").alias("deg")
    )
    # average degree = relationshipCount / nodeCount over ALL nodes (the
    # reference divides by total node count, so dangling nodes lower it)
    n_nodes = nodes.count()
    avg_deg = (outdeg.agg(F.sum("deg")).first()[0] or 0.0) / max(n_nodes, 1)

    ranks = _pull_power_iteration(
        graph,
        max_iterations,
        step=lambda p, c: (1.0 - damping) + damping * c,
        denom_add=avg_deg,
        tolerance=tolerance,
    )
    if ranks is not None:
        return ranks

    ranks, _converged = _join_power_loop(
        nodes,
        edges,
        share_fn=lambda r: r.join(outdeg, "id").select(
            "id", (F.col("rank") / (F.col("deg") + F.lit(avg_deg))).alias("share")
        ),
        update_fn=lambda c: F.lit(1.0 - damping) + damping * c,
        max_iterations=max_iterations,
        tolerance=tolerance,
    )
    return ranks


def eigenvector_centrality(
    graph: Graph,
    max_iterations: int = 20,
    normalization: str = "none",
) -> DataFrame:
    """`algo.eigenvector` — power iteration, no damping, optional norm.

    Reference: `algo/.../EigenvectorCentralityProc.java`; per-step L2
    stabilization, final `normalization: none|max|l1norm|l2norm`.
    Runs on the shared CSC-block engine (raw weights, per-step L2 in numpy)
    when the graph qualifies; join loop otherwise.
    """
    edges, nodes = graph.edges, graph.nodes.select("id")

    def step(p, c):
        norm = float(np.sqrt((c * c).sum())) or 1.0
        return c / norm

    def finish(p):
        if normalization == "max":
            return p / (p.max() or 1.0)
        if normalization == "l1norm":
            return p / (p.sum() or 1.0)
        return p

    ranks = _pull_power_iteration(
        graph, max_iterations, step=step, normalize=False, finish=finish
    )
    if ranks is not None:
        return ranks

    def _l2_post(ck: DataFrame) -> DataFrame:
        norm = ck.agg(F.sqrt(F.sum(F.col("rank") * F.col("rank")))).first()[0] or 1.0
        if norm == 0.0:
            norm = 1.0
        return ck.select("id", (F.col("rank") / F.lit(norm)).alias("rank"))

    ranks, _converged = _join_power_loop(
        nodes,
        edges,
        share_fn=lambda r: r.select("id", F.col("rank").alias("share")),
        update_fn=lambda c: c,
        max_iterations=max_iterations,
        step_post=_l2_post,
    )
    if normalization == "max":
        mx = ranks.agg(F.max("rank")).first()[0] or 1.0
        ranks = ranks.select("id", (F.col("rank") / F.lit(mx or 1.0)).alias("rank"))
    elif normalization == "l1norm":
        s = ranks.agg(F.sum("rank")).first()[0] or 1.0
        ranks = ranks.select("id", (F.col("rank") / F.lit(s or 1.0)).alias("rank"))
    elif normalization == "l2norm":
        pass  # already L2-stabilized each step
    return ranks


def katz_centrality(
    graph: Graph,
    alpha: float = 0.1,
    beta: float = 1.0,
    max_iterations: int = 20,
    tolerance: float | None = None,
) -> DataFrame:
    """Katz centrality — x = Σ_k α^k (Aᵀ)^k·β·1, computed as the power
    iteration x ← α·Aᵀx + β (Katz 1953). Converges for α < 1/λ_max; no
    degree normalization (contrast PageRank), so a node is credited for
    ALL walks reaching it, attenuated by length.

    Engine-added for GDS-successor parity (the reference ships the
    PageRank/ArticleRank/Eigenvector trio; Katz completes the family).
    Runs on the shared CSC-block pull engine when the graph qualifies
    (zero-shuffle supersteps, raw weights), join loop otherwise — the
    same two-strategy split as article_rank above.
    """
    edges, nodes = graph.edges, graph.nodes.select("id")
    ranks = _pull_power_iteration(
        graph,
        max_iterations,
        step=lambda p, c: alpha * c + beta,
        normalize=False,
        tolerance=tolerance,
    )
    if ranks is not None:
        return ranks

    ranks, _converged = _join_power_loop(
        nodes,
        edges,
        share_fn=lambda r: r.select("id", F.col("rank").alias("share")),
        update_fn=lambda c: F.lit(beta) + F.lit(alpha) * c,
        max_iterations=max_iterations,
        tolerance=tolerance,
    )
    return ranks
