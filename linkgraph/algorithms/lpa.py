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

One vertex program, three sides, picked per run in this order:

* **driver** — no checkpoint is given and the raw ``(src, dst, weight)``
  projection and the ``(id, label)`` table each fit
  ``blocks.DRIVER_EDGE_THRESHOLD`` rows (``blocks.collect_if_small``; the
  raw rows bound the prepared edges, so on duplicate-heavy input this
  gate is more conservative than one on the prepared table). The edges
  are prepared in numpy — loops dropped and, with direction BOTH, both
  directions of every canonical pair with its max weight, the rows of
  ``wcc.loop_free_undirected`` — and the rounds are numpy
  ``blocks.label_vote`` calls. Edges with an endpoint that is no node id
  are dropped, as the distributed joins drop them. The result is a local
  relation of every node row. With the edges under the budget but the
  node table over it, the pull or DataFrame side runs.
* **pull** — node ids are exactly 0..n-1 within the pull engine's
  memory-aware cap and every edge endpoint is a node id (the store
  manifest's endpoint range): the driver holds the int64 label vector
  (seed labels are arbitrary longs, so they never go through float64)
  and each round is one zero-shuffle ``blocks.pull_superstep`` job
  running ``blocks.vote_kernel`` over a CSC store of the edge table built
  with raw weights (``normalize=False``). With direction BOTH that table
  is ``wcc.loop_free_undirected``, the plan WCC's pull side builds its
  store from, so the two share one store through ``blocks.open_store``.
  When the driver gate has just found the raw edges over the budget, the
  store is counted and built by Spark without a second probe.
* **DataFrame** — anything else: a vote join and a map-side-combined
  arg-max per round; the path for graphs above the pull cap.

The pull and DataFrame sides read the prepared edge table, persisted for
the run; the driver side never builds it.

Every side applies the (weight desc, label asc) vote to the same edges,
so labels and iteration counts agree. A checkpoint is the (id, label)
table (``lpa/labels-v1``) on the pull and the DataFrame side alike, so a
run can resume on either.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from linkgraph.algorithms import blocks
from linkgraph.algorithms.wcc import loop_free_undirected
from linkgraph.graph import Graph
from linkgraph.io import CheckpointManager

LABELS_FMT = "lpa/labels-v1"


def _collect_raw(edges: DataFrame) -> pd.DataFrame | None:
    """The raw (src, dst, weight) rows without a null endpoint, when they
    fit ``blocks.collect_if_small``."""
    return blocks.collect_if_small(
        edges.select("src", "dst", "weight").dropna(subset=["src", "dst"])
    )


def _lpa_local(
    edges: DataFrame | pd.DataFrame,
    labels: DataFrame,
    weighted: bool,
    max_iterations: int,
    run_to_convergence: bool,
    undirected: bool = False,
):
    """Driver-local synchronous LPA below the driver crossover (r6) —
    the union-find / pull-engine hybrid crossover. Reads the (src, dst,
    weight) rows of ``edges`` and the initial (id, label) table once each
    and prepares the edges in numpy: loops are dropped and, with
    ``undirected``, the rest become both directions of every canonical
    pair with its max weight (``blocks.canonical_pairs``) — the rows of
    ``wcc.loop_free_undirected``, the pull and DataFrame sides' edge view.
    Each round is one ``blocks.label_vote`` — the pull side's kernel and
    the same winner as the DataFrame arg-max. Vote sums here are sums of
    small integer-valued weights (or counts), which float64 adds EXACTLY
    in any order, so winners match the distributed plans bit-for-bit on
    the contract graphs; arbitrary real weights could differ in ties at
    ~1e-16 (same caveat as any re-ordered float sum).
    ``edges`` may also be the raw rows a caller has already collected.
    Returns None when the edge or the label table is over the driver
    crossover (the pull and DataFrame loops are the at-scale paths and
    the only paths under checkpoint/resume)."""
    ep = edges if isinstance(edges, pd.DataFrame) else _collect_raw(edges)
    lab_pd = None if ep is None else blocks.collect_if_small(labels)
    if lab_pd is None:
        return None
    src = ep["src"].to_numpy(np.int64)
    dst = ep["dst"].to_numpy(np.int64)
    w = ep["weight"].to_numpy(np.float64)
    if undirected:
        a, b, w = blocks.canonical_pairs(src, dst, w)
        src, dst, w = np.concatenate([a, b]), np.concatenate([b, a]), np.concatenate([w, w])
    else:
        keep = src != dst
        src, dst, w = src[keep], dst[keep], w[keep]
    ids = lab_pd["id"].to_numpy(np.int64)
    order = np.argsort(ids, kind="stable")
    ids = ids[order]
    lab = lab_pd["label"].to_numpy(np.int64)[order]
    # drop edges with endpoints outside the node set — the distributed
    # loop's joins do the same
    es, ed, ok = blocks.index_edges(ids, src, dst)
    es, ed = es[ok], ed[ok]
    w = w[ok] if weighted else np.ones(int(ok.sum()), dtype=np.float64)
    iterations, converged = 0, False
    for step in range(max_iterations):
        targets, winners = blocks.label_vote(ed, lab[es], w)
        new_lab = lab.copy()
        new_lab[targets] = winners
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


def _lpa_pull(
    nodes: DataFrame,
    edges: DataFrame,
    seeds: DataFrame | None,
    weighted: bool,
    max_iterations: int,
    run_to_convergence: bool,
    checkpoint: CheckpointManager | None,
    checkpoint_every: int,
    probe: bool = True,
):
    """The pull side of ``label_propagation``, or None when the node ids or
    an edge endpoint rule it out (see the module docstring). ``seeds`` is
    the initial (id, label) table, None for labels = own ids."""
    n, _ = blocks._pull_size(nodes)
    if n is None:
        return None
    path, b = blocks.open_store(edges, "pull", normalize=False, probe=probe)
    if blocks.endpoints_outside(path, n) is not None:
        return None
    spark = edges.sparkSession
    lab = np.arange(n, dtype=np.int64)
    start_step = 0
    if checkpoint is not None:
        latest = checkpoint.latest(fmt=LABELS_FMT)
        if latest is not None:
            start_step, seeds, _meta = latest
    if seeds is not None:
        pdf = seeds.toPandas()
        lab[pdf["id"].to_numpy(np.int64)] = pdf["label"].to_numpy(np.int64)

    def table(lab: np.ndarray) -> DataFrame:
        return spark.createDataFrame(
            pd.DataFrame({"id": np.arange(n, dtype=np.int64), "label": lab}),
            schema="id long, label long",
        )

    kernel = (
        blocks.vote_kernel if weighted
        else functools.partial(blocks.vote_kernel, weighted=False)
    )
    sc = spark.sparkContext
    iterations, converged = start_step, False
    with blocks.pinned_store(path):
        for step in range(start_step, max_iterations):
            new_lab = blocks.pull_superstep(sc, path, b, n, lab, kernel=kernel)
            changed = int((new_lab != lab).sum()) if run_to_convergence else 1
            lab = new_lab
            iterations = step + 1
            if checkpoint is not None and checkpoint_every and iterations % checkpoint_every == 0:
                checkpoint.write(
                    table(lab), iterations, {"iteration": iterations, "changed": changed},
                    fmt=LABELS_FMT,
                )
            converged = run_to_convergence and changed == 0
            if converged:
                break
    out = table(lab)
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
    nodes = graph.nodes
    seeded = seed_col is not None and seed_col in nodes.columns
    if seeded:
        labels = nodes.select(
            "id", F.coalesce(F.col(seed_col).cast("long"), F.col("id")).alias("label")
        )
    else:
        labels = nodes.select("id", F.col("id").alias("label"))
    ep = None if checkpoint is not None else _collect_raw(graph.edges)
    if ep is not None:
        out = _lpa_local(
            ep, labels, weighted, max_iterations, run_to_convergence,
            undirected=direction == "BOTH",
        )
        if out is not None:
            return out
    if direction == "BOTH":
        edges = loop_free_undirected(graph.edges)
    else:
        edges = graph.edges.filter(F.col("src") != F.col("dst"))
    edges = edges.persist()
    try:
        # the pull store skips its own probe when the raw-edge probe above
        # has just found the edges over the budget
        return _propagate(
            nodes, edges, labels, seeded, weighted, max_iterations,
            run_to_convergence, checkpoint, checkpoint_every,
            probe=checkpoint is not None or ep is not None,
        )
    finally:
        edges.unpersist()


def _propagate(
    nodes: DataFrame,
    edges: DataFrame,
    labels: DataFrame,
    seeded: bool,
    weighted: bool,
    max_iterations: int,
    run_to_convergence: bool,
    checkpoint: CheckpointManager | None,
    checkpoint_every: int,
    probe: bool = True,
) -> DataFrame:
    """label_propagation over the prepared, cached ``edges`` from the
    initial ``labels``: the pull side, else the DataFrame loop. ``probe``
    goes to the pull store's ``blocks.open_store``."""
    out = _lpa_pull(
        nodes, edges, labels if seeded else None, weighted, max_iterations,
        run_to_convergence, checkpoint, checkpoint_every, probe,
    )
    if out is not None:
        return out
    start_step = 0
    if checkpoint is not None:
        latest = checkpoint.latest(fmt=LABELS_FMT)
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
        # label_vote's (w desc, label asc) winner (node ids are ≥ 0, so
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
                fmt=LABELS_FMT,
            )
        labels.unpersist()
        labels = new_labels
        iterations = step + 1
        converged = run_to_convergence and changed == 0
        if converged:
            break

    labels.iterations = iterations
    labels.did_converge = converged
    return labels
