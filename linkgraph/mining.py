"""Edge mining from the source-code table (the engine's native input).

Per BASELINE.json ``input_hint``, the input is an Iceberg-style table
``repos(repo: string, path: string, commit: string, lang: string,
content: string)``. Edges (file→file and repo→repo dependency links) are
mined from ``content`` with **vectorized** pandas string ops inside
`mapInPandas` (Arrow batches) — never per-row Python. This is the Spark
analogue of the reference's Cypher projection
(`core/.../heavyweight/HeavyCypherGraphFactory.java`): an arbitrary query
producing (source, target[, weight]) rows.

The synthetic generator mirrors FIXTURES.md §1: deterministic (seed 42),
import targets drawn from a zipf-like preferential-attachment distribution
over repos (popular repos get most in-links → realistic skew), ground-truth
edges recomputable, and a sha256 sidecar for the per-row content invariant.
"""

from __future__ import annotations

import hashlib
import re
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

_LANGS = ["python", "java", "js"]
_EXT = {"python": "py", "java": "java", "js": "js"}

# import-line templates the vectorized regex must parse
_IMPORT_RE = {
    "python": re.compile(r"^(?:from\s+(\w+)\s+import|import\s+(\w+))", re.MULTILINE),
    "java": re.compile(r"^import\s+(\w+)\.[\w.]+;", re.MULTILINE),
    "js": re.compile(r"""(?:require\(["'](\w+)["']\)|import\s+\w+\s+from\s+["'](\w+)["'])"""),
}


def _pkg_name(repo_idx: int) -> str:
    return f"pkg_{repo_idx}"


def _repo_name(repo_idx: int) -> str:
    return f"org{repo_idx % 7}/repo{repo_idx}"


def _import_targets(repo_idx: int, file_idx: int, n_repos: int, seed: int) -> list[int]:
    """Deterministic preferential-attachment-ish targets for one file."""
    rng = np.random.RandomState(seed * 1_000_003 + repo_idx * 1009 + file_idx)
    k = int(rng.randint(1, 5))
    # zipf-like popularity: weight ∝ 1/(rank+1); deterministic per (repo,file)
    ranks = np.arange(n_repos)
    p = 1.0 / (ranks + 1.0)
    p /= p.sum()
    targets = rng.choice(n_repos, size=k, replace=True, p=p)
    return [int(t) for t in targets if int(t) != repo_idx]


def _render_content(lang: str, repo_idx: int, file_idx: int, targets: list[int]) -> str:
    lines = [f"// file {repo_idx}/{file_idx}" if lang != "python" else f"# file {repo_idx}/{file_idx}"]
    for t in targets:
        pkg = _pkg_name(t)
        if lang == "python":
            lines.append(f"import {pkg}" if (file_idx + t) % 2 else f"from {pkg} import core")
        elif lang == "java":
            lines.append(f"import {pkg}.Core;")
        else:
            lines.append(
                f'require("{pkg}")' if (file_idx + t) % 2 else f'import core from "{pkg}"'
            )
    lines.append(f"body_{repo_idx}_{file_idx} " + "x " * ((file_idx % 13) + 1))
    return "\n".join(lines)


def synthesize_repos(
    spark: SparkSession, n_repos: int = 20, files_per_repo: int = 25, seed: int = 42
) -> DataFrame:
    """Deterministic repos(repo, path, commit, lang, content, content_sha) table.

    Distributed: generated from spark.range via mapInPandas so the same code
    scales past driver memory; every field is a pure function of the row
    index and the seed.
    """
    n_rows = n_repos * files_per_repo

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            idx = pdf["id"].to_numpy(np.int64)
            rows = []
            for i in idx:
                repo_idx = int(i) // files_per_repo
                file_idx = int(i) % files_per_repo
                lang = _LANGS[file_idx % 3]
                targets = _import_targets(repo_idx, file_idx, n_repos, seed)
                content = _render_content(lang, repo_idx, file_idx, targets)
                repo = _repo_name(repo_idx)
                path = f"src/m{file_idx}/f{file_idx}.{_EXT[lang]}"
                commit = hashlib.sha256(f"{repo}:{path}".encode()).hexdigest()[:40]
                sha = hashlib.sha256(content.encode()).hexdigest()
                rows.append((repo, path, commit, lang, content, sha))
            yield pd.DataFrame(
                rows, columns=["repo", "path", "commit", "lang", "content", "content_sha"]
            )

    return spark.range(n_rows).mapInPandas(
        gen,
        schema="repo string, path string, commit string, lang string, "
        "content string, content_sha string",
    )


def ground_truth_repo_edges(n_repos: int = 20, files_per_repo: int = 25, seed: int = 42):
    """Recompute the generator's exact (src_repo_idx, dst_repo_idx, weight) edges."""
    agg: dict[tuple[int, int], float] = {}
    for i in range(n_repos * files_per_repo):
        r, f = i // files_per_repo, i % files_per_repo
        for t in _import_targets(r, f, n_repos, seed):
            agg[(r, t)] = agg.get((r, t), 0.0) + 1.0
    return sorted((s, d, w) for (s, d), w in agg.items())


def verify_content_sha(df: DataFrame) -> int:
    """Per-row invariant: sha256(content) equality vs the sidecar column.

    Returns the number of violations (must be 0 after every pipeline stage).
    NULL-safe: a NULL on exactly one side (content or sidecar) counts.
    """
    same = F.sha2(F.col("content"), 256).eqNullSafe(F.col("content_sha"))
    return df.filter(~same).count()


def mine_import_edges(repos_df: DataFrame) -> DataFrame:
    """repos table → (src_repo, src_path, dst_pkg) rows, fully vectorized.

    pandas ``.str.extractall`` over Arrow batches; one regex per language
    (python/java/js import forms). No per-row Python.
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            outs = []
            for lang, rex in _IMPORT_RE.items():
                sub = pdf[pdf["lang"] == lang]
                if sub.empty:
                    continue
                m = sub["content"].str.extractall(rex)
                if m.empty:
                    continue
                # collapse alternation groups into one target column
                tgt = m[0]
                for c in m.columns[1:]:
                    tgt = tgt.fillna(m[c])
                hits = pd.DataFrame({"row": m.index.get_level_values(0), "dst_pkg": tgt.values})
                hits = hits.dropna()
                hits["src_repo"] = sub.loc[hits["row"], "repo"].values
                hits["src_path"] = sub.loc[hits["row"], "path"].values
                outs.append(hits[["src_repo", "src_path", "dst_pkg"]])
            if outs:
                yield pd.concat(outs, ignore_index=True)

    return repos_df.select("repo", "path", "lang", "content").mapInPandas(
        extract, schema="src_repo string, src_path string, dst_pkg string"
    )


def _defs(repos_df: DataFrame) -> DataFrame:
    """package → (owning repo, defining file) in one aggregate.

    pkg_<i> belongs to repo index i; the defining file is the repo's
    lexicographically-first path (its src/m0 core module).
    """
    return repos_df.groupBy("repo").agg(F.min("path").alias("dst_path")).select(
        F.concat(F.lit("pkg_"), F.regexp_extract("repo", r"repo(\d+)$", 1)).alias("dst_pkg"),
        F.col("repo").alias("dst_repo"),
        "dst_path",
    )


def repo_dependency_graph(repos_df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Full mining pipeline → (repo_nodes, repo_edges).

    repo_nodes(id, repo)  — densified contiguous ids (linkgraph.ids)
    repo_edges(src, dst, weight=import count)
    """
    from linkgraph.ids import densify_ids

    imports = mine_import_edges(repos_df)
    repo_edges_named = (
        imports.join(F.broadcast(_defs(repos_df)), "dst_pkg")
        .groupBy("src_repo", "dst_repo")
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )
    nodes = densify_ids(repos_df.select(F.col("repo").alias("name")), "name")
    src_ids = nodes.select(F.col("id").alias("src"), F.col("name").alias("src_repo"))
    dst_ids = nodes.select(F.col("id").alias("dst"), F.col("name").alias("dst_repo"))
    edges = (
        repo_edges_named.join(F.broadcast(src_ids), "src_repo")
        .join(F.broadcast(dst_ids), "dst_repo")
        .select("src", "dst", "weight")
    )
    return nodes.select("id", F.col("name").alias("repo")), edges


def _file_key(repo: str, path: str):
    return F.struct(F.col(repo).alias("repo"), F.col(path).alias("path"))


def file_dependency_graph(repos_df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Full mining pipeline at FILE granularity → (file_nodes, file_edges).

    file_nodes(id, repo, path) — densified contiguous ids over the
    ``struct(repo, path)`` file key, read straight off the id table (no
    re-join); ids follow (repo, path) order.
    file_edges(src, dst, weight=import count): the importing FILE links to
    the target repo's DEFINING file. Definition resolution here is the
    repo's lexicographically-first path (its src/m0 core module) — the
    relational stand-in for a symbol table; at 10^12-file scale this is a
    broadcast/shuffle join against a defs table, never content re-parsing.
    The only Python stage is the import regex in `mine_import_edges`.

    North-star shape: "edges = repo→repo and file→file dependency/import
    links mined from content via vectorized Arrow UDFs".
    """
    from linkgraph.ids import densify_ids

    imports = mine_import_edges(repos_df)
    file_edges_named = (
        imports.join(F.broadcast(_defs(repos_df)), "dst_pkg")
        .groupBy(
            _file_key("src_repo", "src_path").alias("skey"),
            _file_key("dst_repo", "dst_path").alias("dkey"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )
    ids = densify_ids(repos_df.select(_file_key("repo", "path").alias("fkey")), "fkey")
    nodes = ids.select("id", "fkey.repo", "fkey.path")
    src_ids = ids.select(F.col("id").alias("src"), F.col("fkey").alias("skey"))
    dst_ids = ids.select(F.col("id").alias("dst"), F.col("fkey").alias("dkey"))
    edges = (
        file_edges_named.join(src_ids, "skey")
        .join(dst_ids, "dkey")
        .select("src", "dst", "weight")
    )
    return nodes, edges
