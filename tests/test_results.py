"""Write-mode stats rows: one golden per major proc (r2 VERDICT task 6).

Reference: `algo/.../results/*` — every write proc returns
loadMillis/computeMillis/writeMillis/nodes/iterations/didConverge (+
algorithm-specific aggregates).
"""

import pytest
from pyspark.sql import functions as F

from linkgraph.graph import Graph
from linkgraph.results import run_write_proc
from tests.conftest import edges_df

PREFIX = [
    "loadMillis", "computeMillis", "writeMillis", "nodes",
    "relationships", "iterations", "didConverge", "writeProperty",
]

# two triangles joined by a bridge + an isolated-ish tail
EDGES = [
    (0, 1, 1.0), (1, 2, 1.0), (2, 0, 1.0),
    (3, 4, 1.0), (4, 5, 1.0), (5, 3, 1.0),
    (2, 3, 1.0), (5, 6, 1.0),
]


def _graph(spark, direction="OUTGOING"):
    return Graph.from_edges(edges_df(spark, EDGES), direction=direction)


def _row(df):
    assert df.count() == 1
    r = df.first().asDict()
    for c in PREFIX:
        assert c in r, f"missing canonical stats column {c}"
    assert r["loadMillis"] >= 0 and r["computeMillis"] >= 0
    return r


def test_wcc_stats_row(spark, tmp_path):
    from linkgraph.algorithms.wcc import wcc

    g = _graph(spark)
    out = str(tmp_path / "wcc")
    r = _row(run_write_proc("unionFind", g, lambda g_: wcc(g_), write_path=out,
                            write_property="partition"))
    assert r["nodes"] == 7 and r["relationships"] == 8
    assert r["setCount"] == 1  # everything connects (undirected semantics)
    assert r["minSetSize"] == 7 and r["maxSetSize"] == 7
    assert r["didConverge"] is True and r["iterations"] >= 1
    assert r["writeMillis"] > 0 and r["writeProperty"] == "partition"
    # the write-back actually landed
    assert spark.read.parquet(out).count() == 7


def test_lpa_stats_row(spark):
    from linkgraph.algorithms.lpa import label_propagation

    g = _graph(spark, direction="BOTH")
    r = _row(
        run_write_proc(
            "labelPropagation",
            g,
            lambda g_: label_propagation(g_, max_iterations=20, run_to_convergence=True),
        )
    )
    assert r["didConverge"] is True
    assert r["iterations"] >= 1
    assert r["setCount"] >= 1
    assert r["writeMillis"] == 0  # stream mode


def test_scc_stats_row(spark):
    from linkgraph.algorithms.scc import scc

    g = _graph(spark)
    r = _row(run_write_proc("scc", g, scc))
    # two 3-cycles are SCCs; bridge nodes 6 is trivial
    assert r["setCount"] == 3
    assert r["maxSetSize"] == 3 and r["minSetSize"] == 1
    assert r["didConverge"] is True


def test_louvain_stats_row(spark):
    from linkgraph.algorithms.louvain import louvain

    g = _graph(spark)
    r = _row(run_write_proc("louvain", g, lambda g_: louvain(g_, max_levels=3)))
    assert r["setCount"] >= 2
    assert "modularity" in r and 0.0 < r["modularity"] <= 1.0


def test_pagerank_stats_row(spark):
    from linkgraph.algorithms.pagerank import PageRank

    g = _graph(spark)
    r = _row(
        run_write_proc(
            "pageRank",
            g,
            lambda g_: PageRank(tolerance=1e-3, max_iterations=100,
                                strategy="csr").run(g_),
        )
    )
    assert r["didConverge"] is True and r["iterations"] >= 1
    assert r["sumCentrality"] > 0 and r["maxCentrality"] >= r["minCentrality"]


def test_procs_call_write_mode(spark, tmp_path):
    """CALL algo.unionFind(g, write: true, writeProperty: 'partition')
    returns the stats row, like the reference's write procs."""
    from linkgraph import procs

    g = _graph(spark)
    out = str(tmp_path / "wcc_out")
    r = _row(procs.call("algo.unionFind", g, write=True, writePath=out,
                        writeProperty="partition"))
    assert r["setCount"] == 1 and r["writeProperty"] == "partition"
    assert spark.read.parquet(out).count() == 7
    # unsupported proc refuses clearly
    with pytest.raises(ValueError, match="write mode"):
        procs.call("algo.bfs.stream", g, 0, write=True)


def test_triangle_stats_row(spark):
    from linkgraph.algorithms.triangles import triangle_count

    g = _graph(spark, direction="BOTH")
    r = _row(run_write_proc("triangleCount", g, triangle_count))
    assert r["triangleCount"] == 2  # the two 3-cycles
    assert 0.0 < r["averageClusteringCoefficient"] <= 1.0


def test_closeness_stats_row(spark):
    from linkgraph import procs

    g = _graph(spark, direction="BOTH")
    r = _row(procs.call("algo.closeness", g, write=True))
    assert r["maxCentrality"] >= r["minCentrality"] > 0.0


def test_kcore_stats_rows(spark):
    from linkgraph import procs

    g = _graph(spark, direction="BOTH")
    r = _row(procs.call("algo.kcore", g, 2, write=True))
    # node 6 peels off (degree 1); the remaining six survive at k=2
    assert r["kCoreCount"] == 6
    assert r["didConverge"] is True
    r2 = _row(procs.call("algo.kcore.coreness", g, write=True))
    assert r2["maxCoreNumber"] == 2
    assert r2["didConverge"] is True


def test_infomap_stats_row(spark):
    from linkgraph import procs

    g = _graph(spark, direction="BOTH")
    r = _row(procs.call("algo.infoMap", g, write=True))
    assert r["setCount"] >= 1
    assert "codelength" in r and r["codelength"] > 0.0


def test_spanning_tree_stats_row(spark):
    from linkgraph import procs

    g = _graph(spark)
    r = _row(procs.call("algo.spanningTree.minimum", g, write=True))
    assert r["effectiveNodeCount"] == 7
    assert r["totalWeight"] == pytest.approx(6.0)  # 6 unit-weight tree edges


def test_pagerank_call_write_mode(spark):
    """ADVICE r3: call('algo.pageRank', g, write=True) must work — the
    registry entry is a class, dispatched constructor(kwargs) + .run(graph)."""
    from linkgraph import procs

    g = _graph(spark)
    r = _row(procs.call("algo.pageRank", g, write=True, max_iterations=5,
                        strategy="csr"))
    assert r["sumCentrality"] > 0.0
    assert r["iterations"] >= 1


def test_similarity_writer_rel_type(spark, tmp_path):
    from linkgraph.algorithms.vector_similarity import write_similar_relationships

    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.8)], ["a", "b", "similarity"]
    )
    out = str(tmp_path / "sims")
    summary = write_similar_relationships(pairs, out, rel_type="NEAR_DUP")
    assert summary.first()["similarityPairs"] == 2
    written = spark.read.parquet(out)
    assert {r["rel_type"] for r in written.collect()} == {"NEAR_DUP"}


def test_betweenness_stats_row(spark, tmp_path):
    from linkgraph.algorithms.betweenness import betweenness_centrality

    g = _graph(spark, direction="BOTH")
    r = _row(
        run_write_proc(
            "betweenness",
            g,
            lambda g_: betweenness_centrality(
                g_, store_path=str(tmp_path / "store")
            ),
        )
    )
    assert r["maxCentrality"] >= r["minCentrality"] >= 0.0
    assert r["sumCentrality"] > 0.0


def test_hits_stats_row(spark):
    from linkgraph.algorithms.hits import hits

    g = _graph(spark)
    r = _row(run_write_proc("hits", g, lambda g_: hits(g_, max_iterations=5)))
    assert r["iterations"] == 5
    assert r["maxHub"] > 0.0 and r["maxAuthority"] > 0.0


def test_ktruss_stats_row(spark):
    from linkgraph.algorithms.ktruss import k_truss

    g = _graph(spark)
    r = _row(run_write_proc("ktruss", g, lambda g_: k_truss(g_, k=3)))
    assert r["didConverge"]
    # the 3-truss of two triangles + bridge keeps exactly the 6 triangle edges
    assert r["edgeCount"] == 6
    assert r["effectiveNodeCount"] == 6
    assert r["minSupport"] == 1


def test_procs_call_write_mode_hits(spark):
    from linkgraph.procs import call

    g = _graph(spark)
    r = _row(call("algo.hits", g, max_iterations=3, write=True))
    assert r["maxHub"] > 0.0


def test_katz_call_write_mode(spark):
    from linkgraph import procs

    g = _graph(spark)
    r = _row(procs.call("algo.katz", g, write=True, alpha=0.1, max_iterations=6))
    assert r["sumCentrality"] > 0.0
    # every node has rank >= beta = 1, so the sum exceeds the node count
    assert r["sumCentrality"] >= g.nodes.count()


def test_article_rank_call_write_mode(spark):
    """r4 VERDICT missing #3: articleRank write mode returns the
    CentralityProcResult-style stats row."""
    from linkgraph import procs

    g = _graph(spark)
    r = _row(procs.call("algo.articleRank", g, write=True, max_iterations=5))
    assert r["sumCentrality"] > 0.0
    assert 0.0 < r["minCentrality"] <= r["maxCentrality"]


def test_eigenvector_call_write_mode(spark):
    from linkgraph import procs

    g = _graph(spark)
    r = _row(procs.call("algo.eigenvector", g, write=True, max_iterations=5,
                        normalization="l2norm"))
    # l2-normalized vector: sum of squares = 1, so max <= 1 and sum <= sqrt(n)
    assert 0.0 < r["maxCentrality"] <= 1.0
    assert r["sumCentrality"] > 0.0


def test_degree_call_write_mode(spark, tmp_path):
    from linkgraph import procs

    g = _graph(spark)
    out = str(tmp_path / "deg")
    r = _row(procs.call("algo.degree", g, write=True, direction="INCOMING",
                        writePath=out, writeProperty="degree"))
    # 8 directed edges -> total in-degree 8
    assert r["sumCentrality"] == 8.0
    assert r["writeProperty"] == "degree"
    assert spark.read.parquet(out).count() == 7


def test_similarity_jaccard_call_write_mode(spark, tmp_path):
    """r4 VERDICT missing #3: similarity procs' write mode returns the
    SimilaritySummaryResult row (nodes, similarityPairs, percentiles) and
    exports SIMILAR rels when writePath is given."""
    from linkgraph import procs

    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "z")],
        ["item", "cat"],
    )
    out = str(tmp_path / "simrels")
    row = procs.call(
        "algo.similarity.jaccard", df, "item", "cat",
        write=True, writePath=out, writeRelationshipType="ALIKE",
    ).first().asDict()
    assert row["nodes"] == 2  # only items 1,2 pair up
    # stream emits BOTH directions (reference topK semantics): 2 rel rows
    assert row["similarityPairs"] == 2
    assert row["min"] == row["max"] == 1.0
    assert row["writeRelationshipType"] == "ALIKE"
    assert row["writeProperty"] == "score"
    written = spark.read.parquet(out)
    assert {r["rel_type"] for r in written.collect()} == {"ALIKE"}


def test_similarity_cosine_call_write_mode(spark):
    from linkgraph import procs

    items = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])],
        ["item", "weights"],
    )
    row = procs.call(
        "algo.similarity.cosine", items, similarity_cutoff=0.9, write=True
    ).first().asDict()
    # both directions of the (1,2) pair, mean cosine exactly 1
    assert row["similarityPairs"] == 2 and abs(row["mean"] - 1.0) < 1e-9
    assert row["writeRelationshipType"] == "SIMILAR"
