"""Reachability lint: every top-level function and class in the package
is used by something that runs. A name counts as used when it is
referenced from package code outside its own body (module-level code and
decorator arguments included), from ``examples/``, ``tools/``,
``bench.py`` or ``__spark_entry__.py``; a ``@query`` function is used
by the registry. Tests do not count: a surface only a test calls belongs
in ``tests/``. Name-based, so a chain of otherwise-dead functions that
call each other passes; the lint stops regrowth, it is not a proof."""

from __future__ import annotations

import ast
import os

from conftest import REPO

PKG = os.path.join(REPO, "spark_ml_showcase_spark")

# Top-level surfaces no runnable code reaches, each kept for a reason.
ALLOWED = {
    # reference T1 surfaces: the reference script's own grid searches and
    # refit, pinned by tests/test_slow_reference.py
    "reference_rf_grid": "reference T1 surface (tests/test_slow_reference.py)",
    "reference_gbt_grid": "reference T1 surface (tests/test_slow_reference.py)",
    "retrain_with_best": "reference T1 surface (tests/test_slow_reference.py)",
    # reference idioms the engine reproduces, each pinned by a test
    "derive": "reference P6 conditional derive (tests/test_relational.py)",
    "broadcast_join": "reference explicit-broadcast join (tests/test_scale_paths.py)",
    "hash_split": "deterministic split documented in SCALE.md (tests/test_splits.py)",
    # engine surfaces whose registered query is not written yet
    "stream_append_snapshots": "exactly-once stream commit into the versioned "
    "store (tests/test_versioned.py)",
    "winnow_fingerprints": "UDF-free winnowing column form; the dedup query "
    "runs its Arrow twin (tests/test_dedup.py)",
}


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if n.value.isidentifier():  # getattr / registry lookups
                out.add(n.value)
    return out


def _py_files(root: str):
    for d, _, files in os.walk(root):
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                yield p, ast.parse(open(p, encoding="utf-8").read(), filename=p)


def _is_query(node) -> bool:
    return any(
        isinstance(d, ast.Call)
        and isinstance(d.func, (ast.Name, ast.Attribute))
        and getattr(d.func, "id", getattr(d.func, "attr", None)) == "query"
        for d in node.decorator_list
    )


def _package_defs():
    """[(relpath:line, name, names its body references, is a @query)]
    plus the names package code references outside any definition."""
    defs, outside = [], set()
    for p, tree in _py_files(PKG):
        rel = os.path.relpath(p, PKG)
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                for d in node.decorator_list:
                    outside |= _names(d)
                body = set().union(*(_names(b) for b in node.body))
                if isinstance(node, ast.ClassDef):
                    body |= set().union(set(), *(_names(b) for b in node.bases))
                else:
                    body |= _names(node.args)
                defs.append((f"{rel}:{node.lineno}", node.name, body, _is_query(node)))
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                outside |= _names(node)
    return defs, outside


def _reachability():
    """(package definitions, every name something that runs references)."""
    defs, used = _package_defs()
    for d in ("examples", "tools"):
        for _, tree in _py_files(os.path.join(REPO, d)):
            used |= _names(tree)
    for f in ("bench.py", "__spark_entry__.py"):
        p = os.path.join(REPO, f)
        used |= _names(ast.parse(open(p, encoding="utf-8").read(), filename=p))
    for _, name, body, _ in defs:
        used |= body - {name}  # a self-reference does not count
    return defs, used


def test_every_package_definition_is_reached():
    defs, used = _reachability()
    unreached = sorted(
        f"{where} {name}"
        for where, name, _, is_query in defs
        if not is_query and name not in used and name not in ALLOWED
    )
    assert unreached == []


def test_allowlist_names_only_unreached_definitions():
    """An allowlisted name that something now reaches, or that no longer
    exists, is stale: drop it from ``ALLOWED``."""
    defs, used = _reachability()
    defined = {name for _, name, _, _ in defs}
    assert sorted(n for n in ALLOWED if n not in defined or n in used) == []


def test_no_package_function_takes_a_vectorized_parameter():
    """Every top-k scores through the one Arrow cosine
    (``similarity.cosine_udf``); a per-call scorer switch must not come
    back."""
    hits = []
    for p, tree in _py_files(PKG):
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                a = node.args
                params = a.posonlyargs + a.args + a.kwonlyargs
                if any(x.arg == "vectorized" for x in params):
                    hits.append(f"{os.path.relpath(p, PKG)}:{node.lineno}")
            elif isinstance(node, ast.Call):
                if any(k.arg == "vectorized" for k in node.keywords):
                    hits.append(f"{os.path.relpath(p, PKG)}:{node.lineno} (call)")
    assert hits == []
