"""Seeded input generators owned by the benchmark.

Every input is a pure function of the seed and the sizes below, written
as parquet under the run's work directory. Nothing here calls linkgraph:
a change to the program must never change what the benchmark feeds it.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq


def write_parquet(df: pd.DataFrame, path: str) -> str:
    table = pa.Table.from_pandas(df, preserve_index=False)
    pq.write_table(table, path, coerce_timestamps="us")
    return path


# ---------------------------------------------------------------- power law
def powerlaw_edges(seed: int, n: int, m: int) -> pd.DataFrame:
    """Directed graph on ids 0..n-1: src uniform, P(dst=k) ∝ 1/(k+1).

    Duplicate pairs and self-loops are dropped, so the edge count is a
    little below ``m``; the rank vector is indexed by the same ids.
    """
    rng = np.random.default_rng([seed, 1])
    src = rng.integers(0, n, m, dtype=np.int64)
    cdf = np.cumsum(1.0 / np.arange(1, n + 1))
    dst = np.searchsorted(cdf, rng.random(m) * cdf[-1], side="right").astype(np.int64)
    dst = np.minimum(dst, n - 1)
    key = np.unique(src * n + dst)
    src, dst = key // n, key % n
    keep = src != dst
    return pd.DataFrame({"src": src[keep], "dst": dst[keep], "weight": 1.0})


# ------------------------------------------------------------ source table
_EXT = {"python": "py", "java": "java", "js": "js"}
_LANGS = list(_EXT)


def _import_line(lang: str, pkg: str, alt: bool) -> str:
    if lang == "python":
        return f"import {pkg}" if alt else f"from {pkg} import core"
    if lang == "java":
        return f"import {pkg}.Core;"
    return f'require("{pkg}")' if alt else f'import core from "{pkg}"'


def repo_table(seed: int, n_repos: int, files_per_repo: int):
    """Source-code table (repo, path, commit, lang, content, content_sha)
    plus the generator's own import truth.

    Repo popularity is zipf: file f of repo r imports 1-4 distinct other
    repos drawn with P(t) ∝ 1/(t+1). The truth is the file→file edge set
    the miner must recover: importer (repo, path) → the target repo's
    lexicographically first path, weight 1 per distinct import.
    """
    rng = np.random.default_rng([seed, 2])
    p = 1.0 / np.arange(1, n_repos + 1)
    p /= p.sum()
    rows, truth = [], []
    paths = [
        f"src/m{f}/f{f}.{_EXT[_LANGS[f % 3]]}" for f in range(files_per_repo)
    ]
    first_path = min(paths)
    for r in range(n_repos):
        repo = f"org{r % 7}/repo{r}"
        k = rng.integers(1, 5, files_per_repo)
        for f in range(files_per_repo):
            lang = _LANGS[f % 3]
            tg = np.unique(rng.choice(n_repos, size=int(k[f]), p=p))
            tg = tg[tg != r]
            lines = [f"// file {r}/{f}" if lang != "python" else f"# file {r}/{f}"]
            lines += [_import_line(lang, f"pkg_{t}", (f + t) % 2 == 1) for t in tg]
            lines.append(f"body_{r}_{f} " + "x " * (f % 13 + 1))
            content = "\n".join(lines)
            path = paths[f]
            rows.append((
                repo, path, hashlib.sha1(f"{repo}:{path}".encode()).hexdigest(),
                lang, content, hashlib.sha256(content.encode()).hexdigest(),
            ))
            truth += [(repo, path, f"org{t % 7}/repo{t}", first_path) for t in tg]
    table = pd.DataFrame(
        rows, columns=["repo", "path", "commit", "lang", "content", "content_sha"]
    )
    truth_df = pd.DataFrame(
        truth, columns=["src_repo", "src_path", "dst_repo", "dst_path"]
    )
    return table, truth_df


# -------------------------------------------------------- contract tables
_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window data column join small customer query order group "
    "filter stream big vector"
).split()
_DOC_LANGS = ["en", "es", "fr", "de", "zh"]
_EVENT_TYPES = ["click", "view", "error", "purchase", "login"]


def documents(seed: int, n_docs: int) -> pd.DataFrame:
    """documents(doc_id, text, lang, source, n_chars) in the contract schema.

    One doc in eight is a near copy of an earlier one (one word changed),
    so the near-duplicate clustering has real clusters to find.
    """
    rng = np.random.default_rng([seed, 3])
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 8 and i % 8 == 0:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        else:
            words = [_WORDS[j] for j in rng.integers(0, len(_WORDS), int(rng.integers(20, 80)))]
        texts.append(" ".join(words))
    return pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [_DOC_LANGS[j] for j in rng.integers(0, len(_DOC_LANGS), n_docs)],
        "source": [f"src{j}" for j in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def events(seed: int, n_events: int, n_users: int) -> pd.DataFrame:
    """events(event_id, ts, user_id, event_type, value, props)."""
    rng = np.random.default_rng([seed, 4])
    ts = pd.Timestamp("2024-01-01") + pd.to_timedelta(
        np.cumsum(rng.integers(1, 400_000_000, n_events)), unit="us"
    )
    return pd.DataFrame({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
        "event_type": [_EVENT_TYPES[j] for j in rng.integers(0, 5, n_events)],
        "value": np.round(rng.random(n_events) * 20, 2),
        "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n_events)],
    })


def write_contract_tables(seed: int, sf_dir: str, n_docs: int, n_events: int) -> str:
    os.makedirs(sf_dir, exist_ok=True)
    write_parquet(documents(seed, n_docs), os.path.join(sf_dir, "documents.parquet"))
    write_parquet(events(seed, n_events, max(1, n_events // 60)),
           os.path.join(sf_dir, "events.parquet"))
    return sf_dir
