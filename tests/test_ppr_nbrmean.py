"""Round-5 additions: batch personalized PageRank + GraphSAGE mean
aggregator + C4 line cleaning."""

import numpy as np
import pytest

from pyspark.sql import functions as F

from conftest import edges_df
from linkgraph.graph import Graph

TRIPLES = [
    (0, 1, 1.0), (0, 2, 1.0), (1, 2, 1.0), (2, 0, 1.0),
    (2, 3, 1.0), (3, 4, 1.0), (4, 2, 1.0), (5, 0, 1.0),
]


def _numpy_ppr(seed, n, iters=10, d=0.85):
    adj = np.zeros((n, n))
    for s, t, _ in TRIPLES:
        adj[s, t] = 1.0
    outdeg = adj.sum(axis=1)
    r = np.zeros(n)
    r[seed] = 1.0
    tele = np.zeros(n)
    tele[seed] = 1.0
    for _ in range(iters):
        contrib = np.zeros(n)
        for u in range(n):
            if outdeg[u] > 0:
                contrib += adj[u] * (r[u] / outdeg[u])
        r = (1 - d) * tele + d * contrib
    return r


def test_ppr_batch_matches_numpy(spark):
    from linkgraph.algorithms.ppr import ppr_batch

    g = Graph.from_edges(edges_df(spark, TRIPLES))
    seeds = [0, 3]
    wide = ppr_batch(g, seeds, iterations=10).orderBy("id").collect()
    for i, s in enumerate(seeds):
        got = np.array([row[f"r{i}"] for row in wide])
        want = _numpy_ppr(s, 6)
        assert np.allclose(got, want, atol=1e-9), (s, got, want)


def test_ppr_batch_equals_sequential_single_seed(spark):
    """Batching S seeds is EXACTLY S independent single-seed runs."""
    from linkgraph.algorithms.ppr import ppr_batch

    g = Graph.from_edges(edges_df(spark, TRIPLES))
    batch = {
        r["id"]: (r["r0"], r["r1"])
        for r in ppr_batch(g, [2, 5], iterations=6).collect()
    }
    solo2 = {r["id"]: r["r0"] for r in ppr_batch(g, [2], iterations=6).collect()}
    solo5 = {r["id"]: r["r0"] for r in ppr_batch(g, [5], iterations=6).collect()}
    for i in batch:
        assert batch[i][0] == pytest.approx(solo2[i], abs=1e-12)
        assert batch[i][1] == pytest.approx(solo5[i], abs=1e-12)


def test_ppr_topk_matches_numpy_ranking(spark):
    from linkgraph.algorithms.ppr import ppr_topk

    g = Graph.from_edges(edges_df(spark, TRIPLES))
    rows = ppr_topk(g, [0, 3], k=3, iterations=10).collect()
    by_seed = {}
    for r in rows:
        by_seed.setdefault(r["seed"], []).append(r)
    assert set(by_seed) == {0, 3}
    for s, rs in by_seed.items():
        rs = sorted(rs, key=lambda r: r["rk"])
        assert [r["rk"] for r in rs] == [1, 2, 3]
        ref = _numpy_ppr(s, 6)
        want = sorted(range(6), key=lambda i: (-round(ref[i], 5), i))[:3]
        assert [r["id"] for r in rs] == want
        for r in rs:
            assert r["score"] == pytest.approx(round(ref[r["id"]], 5), abs=1e-9)


def test_ppr_empty_seeds_raises(spark):
    from linkgraph.algorithms.ppr import ppr_batch

    g = Graph.from_edges(edges_df(spark, TRIPLES))
    with pytest.raises(ValueError):
        ppr_batch(g, [])


def test_ppr_seed_outside_node_ids_gets_zero_column(spark, monkeypatch):
    """A seed that is no node id (7 with nodes 0..5) gets an all-zero
    column on the pull side, as on the join loop, next to a real seed."""
    from linkgraph.algorithms import blocks
    from linkgraph.algorithms.ppr import ppr_batch

    g = Graph.from_edges(edges_df(spark, TRIPLES))

    def run():
        rows = ppr_batch(g, [7, 0]).orderBy("id").collect()
        return [r["r0"] for r in rows], [r["r1"] for r in rows]

    zero, real = run()
    assert zero == [0.0] * 6
    assert real == pytest.approx(_numpy_ppr(0, 6))
    monkeypatch.setattr(blocks, "_pull_node_cap", lambda s: 0)  # the join loop
    assert run()[0] == zero


def test_neighbor_mean_matches_pandas(spark):
    from linkgraph.pipeline.embed import neighbor_mean_embeddings

    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (3, 0)], "src long, dst long"
    )
    vecs = {0: [1.0, 2.0], 1: [3.0, 4.0], 2: [5.0, 8.0]}
    emb = spark.createDataFrame(
        [(k, v) for k, v in vecs.items()], "vec_id long, embedding array<double>"
    )
    out = {
        r["id"]: (r["nbr_degree"], list(r["nbr_mean"]))
        for r in neighbor_mean_embeddings(edges, emb, dim=2).collect()
    }
    assert out[0] == (2, [4.0, 6.0])   # mean of vec1, vec2
    assert out[1] == (1, [5.0, 8.0])
    assert out[3] == (1, [1.0, 2.0])
    assert 2 not in out  # node 2 has no out-neighbors


def test_neighbor_mean_single_shuffle_no_explode(spark):
    """Plan shape: the aggregate is per-dimension avg (no Generate node
    from an explode multiplying the shuffle)."""
    from linkgraph.pipeline.embed import neighbor_mean_embeddings

    edges = spark.createDataFrame([(0, 1)], "src long, dst long")
    emb = spark.createDataFrame(
        [(1, [1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    plan = neighbor_mean_embeddings(edges, emb, dim=2)._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan


def test_c4_line_clean_rules(spark):
    from linkgraph.pipeline.text import c4_line_clean

    pages = spark.createDataFrame(
        [
            # line2: no terminal punct -> drop; line3: 2 words -> drop;
            # line4 repeats line1 -> deduped keep-first
            (0, "alpha beta gamma.\nno punct here\nhi there friend.\nalpha beta gamma."),
            (1, "read our lorem ipsum policy now.\nkeep this line ok."),
            (2, ""),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in c4_line_clean(pages, min_words=3).collect()}
    assert out[0]["clean_text"] == "alpha beta gamma.\nhi there friend."
    assert out[0]["n_lines"] == 4 and out[0]["n_kept"] == 2
    assert out[0]["keep"] is True
    assert out[1]["keep"] is False  # blocklist page
    assert out[1]["n_kept"] == 2  # cleaning still applied
    assert out[2]["n_kept"] == 0 and out[2]["clean_text"] == ""


def test_c4_line_clean_no_punct_requirement(spark):
    from linkgraph.pipeline.text import c4_line_clean

    pages = spark.createDataFrame(
        [(0, "one two three\nfour five six seven")], "doc_id long, text string"
    )
    out = c4_line_clean(pages, min_words=3, require_terminal_punct=False).first()
    assert out["n_kept"] == 2
