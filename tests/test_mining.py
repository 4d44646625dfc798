import pytest

from pyspark.sql import functions as F

from linkgraph.ids import densify_ids
from linkgraph.mining import (
    ground_truth_repo_edges,
    mine_import_edges,
    repo_dependency_graph,
    synthesize_repos,
    verify_content_sha,
)


@pytest.fixture(scope="module")
def repos(spark):
    df = synthesize_repos(spark, n_repos=10, files_per_repo=8, seed=42).persist()
    df.count()
    return df


def test_synthesis_deterministic(spark, repos):
    again = synthesize_repos(spark, n_repos=10, files_per_repo=8, seed=42)
    a = sorted(map(tuple, repos.collect()))
    b = sorted(map(tuple, again.collect()))
    assert a == b
    assert repos.count() == 80


def test_content_sha_invariant(spark, repos):
    assert verify_content_sha(repos) == 0
    # invariant still holds after a shuffle-heavy stage
    shuffled = repos.repartition(8, "lang").sortWithinPartitions("path")
    assert verify_content_sha(shuffled) == 0


def test_content_sha_counts_one_sided_nulls(spark):
    """A NULL on either side of the sha check is a violation; NULL on both
    sides is not (nothing to disagree about)."""
    import hashlib

    sha = hashlib.sha256(b"x").hexdigest()
    df = spark.createDataFrame(
        [("x", sha), (None, sha), (None, None)], "content string, content_sha string"
    )
    assert verify_content_sha(df) == 1
    df = spark.createDataFrame(
        [("x", sha), ("x", None)], "content string, content_sha string"
    )
    assert verify_content_sha(df) == 1


def test_mined_edges_match_ground_truth(spark, repos):
    nodes, edges = repo_dependency_graph(repos)
    id2repo = {r["id"]: r["repo"] for r in nodes.collect()}
    got = sorted(
        (int(id2repo[r["src"]].split("repo")[1]), int(id2repo[r["dst"]].split("repo")[1]),
         r["weight"])
        for r in edges.collect()
    )
    assert got == ground_truth_repo_edges(n_repos=10, files_per_repo=8, seed=42)


def test_import_extraction_all_langs(spark, repos):
    mined = mine_import_edges(repos)
    langs_covered = (
        mined.join(repos.select("path", "lang").distinct(),
                   mined.src_path == F.col("path"))
        .select("lang").distinct().collect()
    )
    assert {r["lang"] for r in langs_covered} == {"python", "java", "js"}


def test_densify_contiguous(spark):
    df = spark.createDataFrame([(f"key{i}",) for i in [5, 3, 9, 100, 42]], "name string")
    out = densify_ids(df, "name", num_partitions=3).collect()
    ids = sorted(r["id"] for r in out)
    assert ids == [0, 1, 2, 3, 4]
    # deterministic: same input → same mapping
    out2 = densify_ids(df, "name", num_partitions=3).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_densify_long_keys(spark):
    """Long keys past int32 round-trip exactly, with their type kept."""
    big = 10_000_000_000  # > int32, catches silent narrowing
    df = spark.createDataFrame(
        [(big + i * 7,) for i in [5, 3, 9, 100, 42]], "name long"
    )
    out = densify_ids(df, "name", num_partitions=3).collect()
    assert sorted(r["id"] for r in out) == [0, 1, 2, 3, 4]
    assert {r["name"] for r in out} == {big + i * 7 for i in [5, 3, 9, 100, 42]}
    assert all(isinstance(r["name"], int) for r in out)


def _plan_nodes(df, name):
    return df._jdf.queryExecution().optimizedPlan().toString().count(name)


def test_densify_leaves_no_cache_entry(spark):
    df = spark.createDataFrame([(f"k{i}",) for i in range(20)], "name string")
    out = densify_ids(df, "name", num_partitions=3)
    assert _plan_nodes(out, "InMemoryRelation") == 0
    assert sorted(r["id"] for r in out.collect()) == list(range(20))


def test_densify_empty_input(spark):
    df = spark.createDataFrame([], "name string")
    out = densify_ids(df, "name", num_partitions=4)
    assert out.columns == ["id", "name"]
    assert out.schema["id"].dataType.simpleString() == "bigint"
    assert out.schema["name"].dataType.simpleString() == "string"
    assert out.collect() == []


def test_densify_empty_range_partitions(spark):
    df = spark.createDataFrame([("c",), ("a",), ("b",), ("a",)], "name string")
    out = densify_ids(df, "name", num_partitions=8).collect()
    assert sorted((r["id"], r["name"]) for r in out) == [(0, "a"), (1, "b"), (2, "c")]


@pytest.mark.parametrize(
    "keys, ddl",
    [
        ([f"k{(i * 37) % 101}" for i in range(60)], "string"),
        ([(i * 7919) % 1009 - 500 for i in range(60)], "long"),
    ],
)
def test_densify_ids_follow_key_order(spark, keys, ddl):
    df = spark.createDataFrame([(k,) for k in keys], f"key {ddl}")
    out = densify_ids(df, "key", num_partitions=5).collect()
    assert [r["key"] for r in sorted(out, key=lambda r: r["id"])] == sorted(set(keys))


def test_densify_struct_keys_follow_key_order_and_repeat(spark):
    rows = [(f"org{i % 3}/repo{i % 5}", f"src/f{(i * 13) % 17}.py") for i in range(80)]
    df = spark.createDataFrame(rows, "repo string, path string").select(
        F.struct("repo", "path").alias("fkey")
    )
    first = densify_ids(df, "fkey", num_partitions=6).collect()
    got = [tuple(r["fkey"]) for r in sorted(first, key=lambda r: r["id"])]
    assert got == sorted(set(rows))
    assert sorted(r["id"] for r in first) == list(range(len(got)))
    again = densify_ids(df, "fkey", num_partitions=6).collect()
    assert sorted((r["id"], tuple(r["fkey"])) for r in again) == sorted(
        (r["id"], tuple(r["fkey"])) for r in first
    )


def test_file_graph_plan_crosses_into_python_once(spark):
    """Only the import regex is a Python stage: the node table has no
    MapInPandas and the edge table exactly one."""
    from linkgraph.mining import file_dependency_graph

    rows = [
        ("org0/repo0", "src/m0/f0.py", "c0", "python", "import pkg_1"),
        ("org0/repo0", "src/m1/f1.py", "c1", "python", "from pkg_1 import core"),
        ("org1/repo1", "src/m0/f0.java", "c2", "java", "import pkg_0.Core;"),
        ("org1/repo1", "src/m1/f1.js", "c3", "js", 'require("pkg_0")'),
    ]
    repos = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    nodes, edges = file_dependency_graph(repos)
    assert _plan_nodes(nodes, "MapInPandas") == 0
    assert _plan_nodes(edges, "MapInPandas") == 1
    by_id = {r["id"]: (r["repo"], r["path"]) for r in nodes.collect()}
    assert sorted(by_id) == [0, 1, 2, 3]
    assert [by_id[i] for i in range(4)] == sorted((r[0], r[1]) for r in rows)
    # every import resolves to the target repo's first path
    got = sorted((r["src"], r["dst"], r["weight"]) for r in edges.collect())
    assert got == [(0, 2, 1.0), (1, 2, 1.0), (2, 0, 1.0), (3, 0, 1.0)]


def test_file_dependency_graph(spark):
    """File-level edges: every mined import resolves to the target repo's
    defining file; node ids are dense; PageRank runs on the file graph."""
    from linkgraph.mining import (
        file_dependency_graph,
        mine_import_edges,
        synthesize_repos,
    )
    from linkgraph.graph import Graph
    from linkgraph.algorithms.pagerank import pagerank
    from pyspark.sql import functions as F

    repos = synthesize_repos(spark, n_repos=8, files_per_repo=6).persist()
    nodes, edges = file_dependency_graph(repos)
    n = nodes.count()
    assert n == 8 * 6
    ids = [r["id"] for r in nodes.select("id").collect()]
    assert sorted(ids) == list(range(n))  # dense 0..n-1

    # total import weight equals mined import rows that resolve to a repo
    total_imports = (
        mine_import_edges(repos)
        .filter(F.col("dst_pkg").rlike("^pkg_[0-7]$"))
        .count()
    )
    got_weight = edges.agg(F.sum("weight")).first()[0]
    assert int(got_weight) == total_imports

    # every dst is a repo's lexicographically-first path
    first_paths = {
        (r["repo"], r["mp"])
        for r in repos.groupBy("repo").agg(F.min("path").alias("mp")).collect()
    }
    dst_files = {
        (r["repo"], r["path"])
        for r in edges.join(nodes, edges.dst == nodes.id).select("repo", "path").collect()
    }
    assert dst_files <= first_paths

    ranks = pagerank(Graph.from_edges(edges, nodes=nodes.select("id")), max_iterations=5)
    assert ranks.count() == n
