"""Every top-level def in linkgraph/ is reached from an entry point, or it
is on the reviewed allow-list below with its reason. No Spark session.

The closure is by name, over the ``ast`` of the sources. Its roots are
``__spark_entry__.py``, ``bench.py``, ``lgbench/*.py``, the module-level
code of every linkgraph module (imports included), and the dotted paths in
``procs._REGISTRY``, on which ``procs.call`` dispatches. A reached def
adds every name its body mentions (``Name`` ids, attribute names and
imported names). Names are not qualified by module, so a shared name
reaches every def that carries it: the check can miss a dead def, never
flag a live one.
"""

from __future__ import annotations

import ast
import glob
import importlib
import os

from linkgraph import procs

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENTRY_POINTS = ("__spark_entry__.py", "bench.py", "lgbench/*.py")

SURFACE = "reference algo.* surface"
FLAGSHIP = "flagship in the verify skill"
ORACLE = "test oracle for a kept def"

# (module under linkgraph/, def) -> why it stays though no entry point reaches it
ALLOWED = {
    ("procs.py", "list_procs"): SURFACE,  # algo.list
    ("procs.py", "help_proc"): SURFACE,  # algo.help
    ("functions/similarities.py", "infinity"): SURFACE,  # algo.Infinity
    ("functions/similarities.py", "nan"): SURFACE,  # algo.NaN
    ("functions/similarities.py", "pearson_lists"): SURFACE,  # algo.similarity.pearson
    ("mining.py", "synthesize_repos"): FLAGSHIP,
    ("mining.py", "repo_dependency_graph"): FLAGSHIP,
    ("mining.py", "_pkg_name"): FLAGSHIP,
    ("mining.py", "_repo_name"): FLAGSHIP,
    ("mining.py", "_import_targets"): FLAGSHIP,
    ("mining.py", "_render_content"): FLAGSHIP,
    ("mining.py", "ground_truth_repo_edges"): ORACLE,  # for repo_dependency_graph
    ("pipeline/ann.py", "pq_topk"): ORACLE,  # exhaustive ADC for pq_topk_ivf
}


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            out.update(a.name for a in n.names)
    return out


def _parse(path: str) -> ast.Module:
    with open(path) as f:
        return ast.parse(f.read(), path)


def _unreached() -> set[tuple[str, str]]:
    """(module, def) of every top-level def nothing reaches."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    roots: set[str] = set()
    pkg = os.path.join(ROOT, "linkgraph")
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        mod = os.path.relpath(path, pkg)
        for st in _parse(path).body:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.setdefault(st.name, []).append((mod, st))
            else:
                roots |= _names(st)
    for pattern in ENTRY_POINTS:
        for path in glob.glob(os.path.join(ROOT, pattern)):
            roots |= _names(_parse(path))
    for impl, _ in procs._REGISTRY.values():
        roots.update(impl.split("."))
    seen: set[str] = set()
    todo = list(roots)
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        for _, st in defs.get(name, ()):
            todo.extend(_names(st) - seen)
    return {
        (mod, name) for name, sites in defs.items() if name not in seen
        for mod, _ in sites
    }


def test_every_def_is_reached_or_allowed():
    unreached = _unreached()
    extra = sorted(unreached - set(ALLOWED))
    assert not extra, f"unreached defs, neither used nor allow-listed: {extra}"
    stale = sorted(set(ALLOWED) - unreached)
    assert not stale, f"allow-list entries that are reached or gone: {stale}"
    assert set(ALLOWED.values()) <= {SURFACE, FLAGSHIP, ORACLE}


def test_registry_paths_resolve():
    """``procs.call`` imports each registry path at call time, so a deleted
    def would only fail there; resolve all of them here."""
    missing = []
    for name, (impl, _) in sorted(procs._REGISTRY.items()):
        parts = impl.split(".")
        for cut in range(len(parts), 0, -1):
            try:
                obj = importlib.import_module(".".join(parts[:cut]))
                break
            except ModuleNotFoundError:
                continue
        for attr in parts[cut:]:
            obj = getattr(obj, attr, None)
        if obj is None:
            missing.append((name, impl))
    assert not missing, missing
