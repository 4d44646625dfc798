"""Physical-plan regression tests: the scale-critical plan properties that
SCALE.md claims — pushdown, pruning, shuffle counts — asserted so a
refactor can't silently regress them."""

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_token_stats_no_shuffle_and_pruned_scan(spark, tmp_path):
    from linkgraph.pipeline.text import token_stats

    docs = spark.createDataFrame(
        [(1, "a b c", "en", "s", 5)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    path = str(tmp_path / "docs")
    docs.write.parquet(path)
    out = token_stats(spark.read.parquet(path))
    p = _plan(out)
    assert "Exchange" not in p  # embarrassingly parallel, no shuffle
    # column pruning: lang/source/n_chars must not be read
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in p


def test_loader_label_filter_pushes_down(spark, tmp_path):
    from linkgraph.loader import GraphLoader

    docs = spark.createDataFrame(
        [(0, "en"), (1, "de"), (2, "fr")], "doc_id long, lang string"
    )
    npath = str(tmp_path / "nodes")
    docs.write.parquet(npath)
    edges = spark.createDataFrame(
        [(0, 1, "cites"), (1, 2, "links")], "src long, dst long, rel_type string"
    )
    epath = str(tmp_path / "edges")
    edges.write.parquet(epath)
    g = (
        GraphLoader()
        .with_nodes(spark.read.parquet(npath), id_col="doc_id", label_col="lang")
        .with_relationships(spark.read.parquet(epath), type_col="rel_type")
        .with_label("en", "de")
        .with_relationship_type("cites")
        .load()
    )
    p = _plan(g.edges)
    # the label and type predicates must reach the parquet scans
    assert "IN (en,de)" in p.replace("lang#", "lang").replace("  ", " ") or "IN (en,de)" in p
    assert "rel_type" in p and "cites" in p  # type filter at the edge scan


def test_pq_ivf_plan_has_no_cartesian_product(spark):
    """pq_topk_ivf must candidate-generate via an equi-join on cell —
    never the full-corpus cartesian scan that plain pq_topk (the exact-ADC
    baseline) deliberately performs."""
    import numpy as np

    from linkgraph.pipeline.ann import (
        pq_encode,
        pq_topk,
        pq_topk_ivf,
        pq_train,
        train_ivf_centroids,
    )

    rng = np.random.RandomState(2)
    mat = rng.normal(size=(60, 8))
    emb = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(60)], "vec_id long, embedding array<double>"
    )
    cent = train_ivf_centroids(emb, num_cells=4, max_sample=100)
    books = pq_train(emb, num_subspaces=4, bits=3, iters=2)
    coded = pq_encode(emb, books, centroids=cent)
    qs = emb.limit(5)

    pruned_plan = _plan(pq_topk_ivf(qs, coded, books, cent, k=2))
    assert "CartesianProduct" not in pruned_plan
    assert "cell" in pruned_plan  # the equi-join key survives to the plan

    baseline_plan = _plan(pq_topk(qs, coded, books, k=2))
    # r6: the exhaustive baseline still scans every corpus code, but as ONE
    # Arrow pass with the per-query ADC LUTs broadcast (no more cross join
    # duplicating each query vector onto every corpus row) — the full scan
    # shows up as the mapInArrow kernel, with no join node at all
    assert "MapInArrow" in baseline_plan or "mapInArrow" in baseline_plan
    assert "CartesianProduct" not in baseline_plan
    assert "Join" not in baseline_plan
