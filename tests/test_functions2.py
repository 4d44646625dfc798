"""Tests for round-2 additions: sparse similarity procs, asVector, node
lookup functions, infinity guards, kSpanningTree, InfoMap, summary row."""

import numpy as np
import pytest

from pyspark.sql import functions as F

import linkgraph.algorithms.blocks as B
from linkgraph.graph import Graph

from conftest import edges_df


def _sparse_df(spark):
    # 3 items over categories 0..3 (C=4)
    rows = [
        (1, 0, 1.0), (1, 1, 2.0), (1, 2, 3.0),
        (2, 0, 1.0), (2, 1, 2.0), (2, 2, 3.0),     # identical to 1
        (3, 1, 5.0), (3, 3, 1.0),
    ]
    return spark.createDataFrame(rows, "item long, category long, weight double")


def _dense(rows, c=4):
    out = {}
    for i, cat, w in rows:
        out.setdefault(i, np.zeros(c))[cat] = w
    return out


def test_sparse_cosine_pearson_euclidean_vs_numpy(spark):
    from linkgraph.algorithms.vector_similarity import (
        cosine_sparse,
        euclidean_sparse,
        pearson_sparse,
    )

    df = _sparse_df(spark)
    rows = [(r["item"], r["category"], r["weight"]) for r in df.collect()]
    vecs = _dense(rows)

    cos = {(r["a"], r["b"]): r["similarity"] for r in cosine_sparse(df).collect()}
    assert cos[(1, 2)] == pytest.approx(1.0)
    want13 = float(
        vecs[1] @ vecs[3] / (np.linalg.norm(vecs[1]) * np.linalg.norm(vecs[3]))
    )
    assert cos[(1, 3)] == pytest.approx(want13, abs=1e-6)

    euc = {(r["a"], r["b"]): r["similarity"] for r in euclidean_sparse(df).collect()}
    assert euc[(1, 2)] == pytest.approx(0.0)
    assert euc[(1, 3)] == pytest.approx(float(np.linalg.norm(vecs[1] - vecs[3])), abs=1e-6)

    pea = {(r["a"], r["b"]): r["similarity"] for r in pearson_sparse(df).collect()}
    assert pea[(1, 2)] == pytest.approx(1.0)
    assert pea[(1, 3)] == pytest.approx(float(np.corrcoef(vecs[1], vecs[3])[0, 1]), abs=1e-6)


def test_as_vector_sparse_and_dense(spark):
    from linkgraph.functions.similarities import as_vector

    df = _sparse_df(spark)
    out = {r["item"]: r for r in as_vector(df, "item", "category", "weight", dense=True).collect()}
    assert list(out[1]["indices"]) == [0, 1, 2]
    assert list(out[1]["weights"]) == [1.0, 2.0, 3.0]
    assert list(out[3]["vector"]) == [0.0, 5.0, 0.0, 1.0]


def test_similarity_summary_row(spark):
    from linkgraph.algorithms.vector_similarity import cosine_sparse, similarity_summary

    pairs = cosine_sparse(_sparse_df(spark))
    row = similarity_summary(pairs).collect()[0]
    assert row["nodes"] == 3
    assert row["similarityPairs"] == pairs.count()
    assert row["min"] <= row["mean"] <= row["max"]
    assert len(row["percentiles"]) == 7


def test_node_functions(spark):
    from linkgraph.functions.nodes import as_node, as_nodes, get_nodes_by_id

    nodes = spark.createDataFrame(
        [(0, "a"), (1, "b"), (2, "c")], "id long, name string"
    )
    assert {r["id"] for r in get_nodes_by_id(nodes, [0, 2]).collect()} == {0, 2}

    res = spark.createDataFrame([(0, 1.5), (2, 2.5)], "id long, score double")
    j = {r["id"]: r["node_name"] for r in as_node(res, nodes).collect()}
    assert j == {0: "a", 2: "c"}

    res2 = spark.createDataFrame([(9, [2, 0]), (8, [1])], "k long, path array<bigint>")
    got = {r["k"]: [s["name"] for s in r["path_nodes"]] for r in
           as_nodes(res2, nodes, "path").collect()}
    assert got == {9: ["c", "a"], 8: ["b"]}


def test_infinity_guards(spark):
    from linkgraph.functions.similarities import infinity, is_finite, is_infinite, nan

    df = spark.createDataFrame([(1.0,), (None,)], "x double").select(
        "x",
        is_finite("x").alias("fin"),
        is_infinite("x").alias("inf_"),
        is_finite(nan()).alias("nan_fin"),
        is_infinite(infinity()).alias("inf_inf"),
    )
    rows = {r["x"]: r for r in df.collect()}
    assert rows[1.0]["fin"] and not rows[1.0]["inf_"]
    assert not rows[1.0]["nan_fin"] and rows[1.0]["inf_inf"]
    assert not rows[None]["fin"]


def test_k_spanning_tree_clusters(spark):
    from linkgraph.algorithms.paths import k_spanning_tree

    # two tight pairs bridged by a heavy edge → k=2 cuts the bridge
    edges = [(0, 1, 1.0), (2, 3, 1.0), (1, 2, 10.0)]
    g = Graph.from_edges(edges_df(spark, edges),
                         nodes=spark.createDataFrame([(i,) for i in range(4)], "id long"))
    got = {r["id"]: r["cluster"] for r in k_spanning_tree(g, k=2).collect()}
    assert got[0] == got[1] and got[2] == got[3] and got[0] != got[2]


def test_infomap_two_communities(spark):
    from linkgraph.algorithms.infomap import infomap

    edges = [
        (0, 1, 1.0), (1, 2, 1.0), (0, 2, 1.0),
        (3, 4, 1.0), (4, 5, 1.0), (3, 5, 1.0),
        (2, 3, 0.1),
    ]
    und = edges + [(b, a, w) for a, b, w in edges]
    g = Graph.from_edges(edges_df(spark, und),
                         nodes=spark.createDataFrame([(i,) for i in range(6)], "id long"))
    res = infomap(g)
    got = {r["id"]: r["community"] for r in res.collect()}
    assert got[0] == got[1] == got[2]
    assert got[3] == got[4] == got[5]
    assert got[0] != got[3]
    assert res.codelength > 0


def test_infomap_coarsened_parity(spark, monkeypatch):
    """A driver crossover below the 22 edge rows (and at or above the
    coarsened super graph: 3 communities, 4 super-edges) forces the
    Louvain-coarsened distributed path; on clearly separable communities
    it must agree with the direct driver optimizer — same partition,
    codelength equal to ~1e-9."""
    from linkgraph.algorithms.infomap import infomap

    edges = [
        (0, 1, 1.0), (1, 2, 1.0), (0, 2, 1.0),
        (3, 4, 1.0), (4, 5, 1.0), (3, 5, 1.0),
        (6, 7, 1.0), (7, 8, 1.0), (6, 8, 1.0),
        (2, 3, 0.1), (5, 6, 0.1),
    ]
    und = edges + [(b, a, w) for a, b, w in edges]
    g = Graph.from_edges(edges_df(spark, und),
                         nodes=spark.createDataFrame([(i,) for i in range(9)], "id long"))
    direct = infomap(g)
    got_d = {r["id"]: r["community"] for r in direct.collect()}
    monkeypatch.setattr(B, "DRIVER_EDGE_THRESHOLD", 10)
    coarse = infomap(g)
    got_c = {r["id"]: r["community"] for r in coarse.collect()}
    assert got_d == got_c
    assert abs(direct.codelength - coarse.codelength) < 1e-9


def test_infomap_side_follows_edges_not_nodes(spark, monkeypatch):
    """14 edge rows and 40 nodes (34 isolated), crossover at 20: the edge
    table fits, so InfoMap stays on the exact driver optimizer even though
    the node table does not. The coarsened path is no fallback here —
    Louvain keeps each isolated node its own community, 36 > 20."""
    from linkgraph.algorithms.infomap import infomap

    edges = [
        (0, 1, 1.0), (1, 2, 1.0), (0, 2, 1.0),
        (3, 4, 1.0), (4, 5, 1.0), (3, 5, 1.0),
        (2, 3, 0.1),
    ]
    und = edges + [(b, a, w) for a, b, w in edges]
    g = Graph.from_edges(edges_df(spark, und),
                         nodes=spark.createDataFrame([(i,) for i in range(40)], "id long"))
    default = infomap(g)
    got_d = {r["id"]: r["community"] for r in default.collect()}
    monkeypatch.setattr(B, "DRIVER_EDGE_THRESHOLD", 20)
    small = infomap(g)
    got_s = {r["id"]: r["community"] for r in small.collect()}
    assert got_s == got_d
    assert small.codelength == default.codelength
    assert len(got_s) == 40 and got_s[0] != got_s[3]


def test_dense_pairwise_guard(spark):
    from linkgraph.algorithms.vector_similarity import cosine

    items = spark.range(10).select(
        F.col("id").alias("item"), F.array(F.lit(1.0), F.lit(2.0)).alias("weights")
    )
    with pytest.raises(ValueError, match="sparse"):
        cosine(items, max_broadcast_bytes=5)


def test_dense_pairwise_guard_is_dim_aware(spark):
    """Same row count, different dims: the bytes estimate (rows × dim × 8)
    must trip on the wide matrix and pass the narrow one."""
    from linkgraph.algorithms.vector_similarity import cosine

    cap = 10_000  # bytes
    wide = spark.range(100).select(
        F.col("id").alias("item"),
        F.array(*[F.lit(float(i)) for i in range(64)]).alias("weights"),
    )  # 100×64×8 = 51_200 bytes > cap
    with pytest.raises(ValueError, match="dims"):
        cosine(wide, max_broadcast_bytes=cap)
    narrow = spark.range(100).select(
        F.col("id").alias("item"),
        F.array(F.lit(1.0), F.lit(2.0)).alias("weights"),
    )  # 100×2×8 = 1_600 bytes < cap
    assert cosine(narrow, top_k=1, max_broadcast_bytes=cap).count() == 100


def test_memrec_estimate(spark):
    from linkgraph.procs import memrec

    g = Graph.from_edges(edges_df(spark, [(0, 1, 1.0), (1, 2, 1.0)]))
    row = memrec(g, "pagerank", num_executors=2)
    assert row["nodes"] == 3 and row["relationships"] == 2
    assert row["requiredMemoryTotal"] > 0
    assert row["requiredMemoryPerExecutor"] == row["requiredMemoryTotal"] // 2


def test_block_store_validation(spark, tmp_path):
    import pytest as _pytest

    from linkgraph.algorithms import blocks
    from linkgraph.algorithms.pagerank import PageRank

    g = Graph.from_edges(edges_df(spark, [(0, 1, 1.0), (1, 2, 2.0), (2, 0, 3.0)]),
                         nodes=spark.createDataFrame([(i,) for i in range(3)], "id long"))
    path = str(tmp_path / "store")
    blocks.write_edge_blocks(g.edges, num_blocks=2, path=path, weighted=False)
    # store geometry wins over caller-provided num_blocks
    pr = PageRank(max_iterations=3, strategy="csr", num_blocks=7, block_store=path)
    assert pr.run(g).count() == 3
    # weighted mismatch rejected instead of silently wrong ranks
    with _pytest.raises(ValueError, match="weighted"):
        PageRank(max_iterations=3, strategy="csr", weighted=True, block_store=path).run(g)
    # layout mismatch rejected
    with _pytest.raises(ValueError, match="layout"):
        PageRank(max_iterations=3, strategy="pull", block_store=path).run(g)
    # a raw-weight pull store (the Katz/HITS/eigenvector layout) would give
    # wrong PageRank, which divides every weight by the source's out-weight
    raw = str(tmp_path / "raw")
    blocks.write_pull_blocks(g.edges, 2, raw, normalize=False)
    with _pytest.raises(ValueError, match="normalize"):
        PageRank(max_iterations=3, strategy="pull", block_store=raw).run(g)
    # a betweenness store built for the other direction is rejected
    from linkgraph.algorithms.betweenness import betweenness_centrality

    bc = str(tmp_path / "bc")
    betweenness_centrality(g, direction="OUTGOING", store_path=bc).collect()
    with _pytest.raises(ValueError, match="direction"):
        betweenness_centrality(g, direction="BOTH", store_path=bc)


def test_graph_loader_typed_subgraph(spark):
    """GraphLoader label/type filters produce the induced subgraph."""
    from linkgraph.loader import GraphLoader, subgraph

    nodes = spark.createDataFrame(
        [(0, "en"), (1, "en"), (2, "de"), (3, "fr"), (4, "en")],
        "id long, lang string",
    )
    edges = spark.createDataFrame(
        [
            (0, 1, "cites"),  # kept: both en
            (1, 2, "cites"),  # kept: en-de
            (2, 3, "cites"),  # dropped: 3 is fr
            (0, 4, "links"),  # dropped: wrong type
            (4, 0, "cites"),  # kept
        ],
        "src long, dst long, rel_type string",
    )
    g = (
        GraphLoader()
        .with_nodes(nodes, id_col="id", label_col="lang")
        .with_relationships(edges, type_col="rel_type")
        .with_label("en", "de")
        .with_relationship_type("cites")
        .load()
    )
    kept = {(r.src, r.dst) for r in g.edges.collect()}
    assert kept == {(0, 1), (1, 2), (4, 0)}
    assert {r.id for r in g.nodes.collect()} == {0, 1, 2, 4}

    # induced subgraph of an existing graph: drop node 2
    g2 = subgraph(g, node_pred="id <> 2")
    assert {(r.src, r.dst) for r in g2.edges.collect()} == {(0, 1), (4, 0)}

    # edge predicate only
    g3 = subgraph(g, edge_pred="src = 0")
    assert {(r.src, r.dst) for r in g3.edges.collect()} == {(0, 1)}


def test_write_similar_relationships(spark, tmp_path):
    """SimilarityExporter analogue: SIMILAR rels land in the sink table and
    the returned row matches the reference's writeResult shape."""
    from linkgraph.algorithms.vector_similarity import write_similar_relationships

    pairs = spark.createDataFrame(
        [(0, 1, 0.9), (0, 2, 0.7), (1, 2, 0.8)],
        "a long, b long, similarity double",
    )
    out = str(tmp_path / "similar")
    row = write_similar_relationships(pairs, out).first()
    assert row["nodes"] == 3
    assert row["similarityPairs"] == 3
    back = spark.read.parquet(out)
    assert back.count() == 3
    assert set(back.columns) >= {"src", "dst", "rel_type", "score"}
    assert back.filter(F.col("rel_type") == "SIMILAR").count() == 3


def test_procs_metadata_surface(spark):
    from linkgraph.procs import help_proc, list_procs, version

    all_procs = list_procs()
    assert len(all_procs) >= 45
    assert {"name", "implementation", "description"} <= set(all_procs[0])
    prs = list_procs("pagerank")
    assert any(p["name"] == "algo.pageRank" for p in prs)
    assert help_proc("algo.louvain")["name"] == "algo.louvain"
    assert help_proc("algo.definitely_not") is None
    assert isinstance(version(), str) and version()


def test_auto_num_blocks_sizing(spark):
    from linkgraph.algorithms.blocks import EDGES_PER_BLOCK, auto_num_blocks

    small = spark.range(10).selectExpr("id as src", "id+1 as dst")
    assert auto_num_blocks(small, 32) == 1  # tiny graph → one block
    n = EDGES_PER_BLOCK * 3 + 1
    big = spark.range(n).selectExpr("id as src", "id+1 as dst")
    assert auto_num_blocks(big, 32) == 4    # ceil(n / EDGES_PER_BLOCK)
    assert auto_num_blocks(big, 2) == 2     # capped by parallelism


def test_write_table_roundtrip(spark, tmp_path):
    from linkgraph.io import write_table

    df = spark.createDataFrame([(1, 2.0), (3, 4.0)], "id long, rank double")
    out = str(tmp_path / "ranks")
    write_table(df, out)
    back = spark.read.parquet(out)
    assert {tuple(r) for r in back.collect()} == {(1, 2.0), (3, 4.0)}


def test_stream_quality_matches_batch(spark, tmp_path):
    from linkgraph.pipeline.text import quality_scores
    from linkgraph.streaming import run_available_now

    docs = spark.createDataFrame(
        [(0, "the cat sat", "en", "s", 11), (1, "a b", "en", "s", 3)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    path = str(tmp_path / "docs_q")
    docs.write.parquet(path)
    stream = spark.readStream.schema(docs.schema).parquet(path)
    got = {r["doc_id"]: r["n_tokens"]
           for r in run_available_now(quality_scores(stream), "q_stream")}
    want = {r["doc_id"]: r["n_tokens"] for r in quality_scores(docs).collect()}
    assert got == want


def test_as_nodes_keeps_empty_arrays(spark):
    from linkgraph.functions.nodes import as_nodes

    nodes = spark.createDataFrame([(0, "a"), (1, "b")], "id long, name string")
    res = spark.createDataFrame(
        [(1, [1, 0]), (2, []), (3, None)],
        "k long, path array<bigint>",
    )
    got = {r["k"]: [s["name"] for s in r["path_nodes"]]
           for r in as_nodes(res, nodes, "path").collect()}
    assert got == {1: ["b", "a"], 2: [], 3: []}  # empty/null rows retained


def test_weighted_apsp_parallel_edges_keep_min(spark):
    """Duplicate (src,dst) edges with different weights: the CSR Dijkstra
    must keep the lighter relaxation (regression: last-write-wins)."""
    from linkgraph.algorithms.msbfs import weighted_all_shortest_paths
    from linkgraph.graph import Graph
    from tests.conftest import edges_df

    e = edges_df(spark, [(0, 1, 5.0), (0, 1, 1.0), (1, 2, 1.0)])
    g = Graph.from_edges(e)  # duplicate_relationships='none' keeps both
    # OUTGOING keeps raw parallel edges (BOTH dedups reciprocals by max)
    got = {(r["source"], r["target"]): r["distance"]
           for r in weighted_all_shortest_paths(g, direction="OUTGOING").collect()}
    assert got[(0, 1)] == 1.0
    assert got[(0, 2)] == 2.0
