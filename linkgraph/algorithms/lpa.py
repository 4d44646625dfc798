"""Label propagation — `algo.labelPropagation`.

Reference: `algo/src/main/java/org/neo4j/graphalgo/LabelPropagationProc.java`,
`algo/.../impl/labelprop/LabelPropagation.java`. Unseeded nodes start with
label = own id; seeded nodes start from the ``seed`` column
(`partitionProperty`). Each iteration a node adopts the label with the
maximum total incident weight among its neighbors.

The reference runs batch-parallel **semi-async** updates (intra-iteration
order-dependent ⇒ nondeterministic on symmetric graphs). We run
**synchronous** iterations with a deterministic tie-break (max weight,
then min label) so results are reproducible across partition counts —
fixtures are chosen where the two schedules agree (FIXTURES.md G_LPA).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from linkgraph.graph import Graph
from linkgraph.io import CheckpointManager


def _lpa_local(
    edges: DataFrame,
    labels: DataFrame,
    weighted: bool,
    max_iterations: int,
    run_to_convergence: bool,
):
    """Driver-local synchronous LPA below DRIVER_EDGE_THRESHOLD (r6) —
    the union-find / pull-engine hybrid crossover. Consumes the SAME
    prepared edge view (direction/dedup already applied) and initial
    labels as the distributed loop; per round the (dst, label) vote sums
    are lexsort + reduceat and the winner is the (w desc, label asc)
    group head — identical to the distributed arg-max. Vote sums here
    are sums of small integer-valued weights (or counts), which float64
    adds EXACTLY in any order, so winners match the distributed plan
    bit-for-bit on the contract graphs; arbitrary real weights could
    differ in ties at ~1e-16 (same caveat as any re-ordered float sum).
    Returns None above the threshold (the distributed loop is the
    at-scale path and the only path under checkpoint/resume)."""
    import numpy as np
    import pandas as pd

    from linkgraph.algorithms.blocks import DRIVER_EDGE_THRESHOLD, index_edges

    e = edges.localCheckpoint(eager=True)
    if e.count() > DRIVER_EDGE_THRESHOLD:
        return None
    lab_pd = labels.toPandas()
    ids = lab_pd["id"].to_numpy(np.int64)
    order = np.argsort(ids, kind="stable")
    ids = ids[order]
    lab = lab_pd["label"].to_numpy(np.int64)[order]
    ep = e.select("src", "dst", "weight").toPandas()
    n = len(ids)
    # drop edges with endpoints outside the node set — the distributed
    # loop's joins do the same
    es, ed, ok = index_edges(
        ids, ep["src"].to_numpy(np.int64), ep["dst"].to_numpy(np.int64)
    )
    es, ed = es[ok], ed[ok]
    w = (
        ep["weight"].to_numpy(np.float64)[ok]
        if weighted
        else np.ones(int(ok.sum()), dtype=np.float64)
    )
    iterations, converged = 0, False
    for step in range(max_iterations):
        vl = lab[es]
        o = np.lexsort((vl, ed))
        d_, l_, w_ = ed[o], vl[o], w[o]
        grp = np.flatnonzero(np.concatenate(([True], (np.diff(d_) != 0) | (np.diff(l_) != 0))))
        vw = np.add.reduceat(w_, grp)
        vd, vlab = d_[grp], l_[grp]
        # winner per dst: (w desc, label asc) — lexsort keys last-first
        o2 = np.lexsort((vlab, -vw, vd))
        vd2, vlab2 = vd[o2], vlab[o2]
        head = np.flatnonzero(np.concatenate(([True], np.diff(vd2) != 0)))
        new_lab = lab.copy()
        new_lab[vd2[head]] = vlab2[head]
        iterations = step + 1
        changed = int((new_lab != lab).sum()) if run_to_convergence else 1
        lab = new_lab
        if run_to_convergence and changed == 0:
            converged = True
            break
    out = labels.sparkSession.createDataFrame(
        pd.DataFrame({"id": ids, "label": lab}), schema="id long, label long"
    )
    out.iterations = iterations
    out.did_converge = converged
    return out


def label_propagation(
    graph: Graph,
    max_iterations: int = 10,
    seed_col: str | None = None,
    weighted: bool = True,
    direction: str = "BOTH",
    run_to_convergence: bool = True,
    checkpoint: CheckpointManager | None = None,
    checkpoint_every: int = 5,
) -> DataFrame:
    """→ (id, label); stops early when no label changes (didConverge).

    With `checkpoint`, the label DataFrame is durably written every
    `checkpoint_every` iterations and a fresh call resumes mid-run from
    the latest snapshot (same contract as PageRank/WCC resume)."""
    if direction == "BOTH":
        edges = graph.undirected_edges()
    else:
        edges = graph.edges
    edges = edges.filter(F.col("src") != F.col("dst")).persist()
    nodes = graph.nodes

    if seed_col is not None and seed_col in nodes.columns:
        labels = nodes.select(
            "id", F.coalesce(F.col(seed_col).cast("long"), F.col("id")).alias("label")
        )
    else:
        labels = nodes.select("id", F.col("id").alias("label"))
    if checkpoint is None:
        out = _lpa_local(
            edges, labels, weighted, max_iterations, run_to_convergence
        )
        if out is not None:
            edges.unpersist()
            return out
    start_step = 0
    if checkpoint is not None:
        latest = checkpoint.latest(fmt="lpa/labels-v1")
        if latest is not None:
            start_step, labels, _meta = latest
    labels = labels.localCheckpoint(eager=True)

    w_expr = F.sum("weight") if weighted else F.count(F.lit(1)).cast("double")

    iterations, converged = start_step, False
    for step in range(start_step, max_iterations):
        votes = (
            edges.join(labels, edges.src == labels.id)
            .groupBy("dst", "label")
            .agg(w_expr.alias("w"))
        )
        # r6: arg-max via max(struct(w, -label)) — partial (map-side)
        # aggregation instead of a row_number window's shuffle + sort.
        # Lexicographic struct max = max weight then MIN label, exactly
        # the window's (w desc, label asc) winner (node ids are ≥ 0, so
        # negation is safe); comparisons are on identical doubles.
        best = (
            votes.groupBy("dst")
            .agg(F.max(F.struct(F.col("w"), (-F.col("label")).alias("_nl"))).alias("m"))
            .select(F.col("dst").alias("id"), (-F.col("m._nl")).alias("new_label"))
        )
        # lazy localCheckpoint + ONE action per round: labels feeds both
        # the vote join and the carry-over coalesce (truncation still
        # needed or the plan doubles per round); the changed-count below
        # is a full scan, so it materializes the checkpoint in the same
        # job. count() not limit(1): a partial action must not complete
        # a lazy checkpoint.
        new_labels = (
            labels.join(best, "id", "left")
            .select("id", F.coalesce("new_label", "label").alias("label"))
            .localCheckpoint(eager=not run_to_convergence)
        )
        if run_to_convergence:
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "id")
                .filter(F.col("n.label") != F.col("o.label"))
                .count()
            )
        else:
            changed = 1
        if checkpoint is not None and checkpoint_every and (step + 1) % checkpoint_every == 0:
            new_labels = checkpoint.write(
                new_labels, step + 1, {"iteration": step + 1, "changed": changed},
                fmt="lpa/labels-v1",
            )
        labels.unpersist()
        labels = new_labels
        iterations = step + 1
        converged = run_to_convergence and changed == 0
        if converged:
            break

    edges.unpersist()
    labels.iterations = iterations
    labels.did_converge = converged
    return labels
