"""One way to register a query: ``register(...)`` is the only writer of
``REGISTRY``, each oracle is fixed at its ``@register`` site, and the
registry's contents do not depend on the order the query modules are
imported in."""

from __future__ import annotations

import ast
import json
import re
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "algorithmproject_spark_spark"

ROWS_ONLY = {
    "ann_ivf_ml_kmeans_topk",
    "corpus_pagerank_tol_topk",
    "lda_doc_topics",
    "lda_topics_described",
    "word2vec_neighbors",
}


def _library_sources():
    for path in sorted(PKG.rglob("*.py")):
        if path.name != "registry.py":
            yield path.relative_to(PKG).as_posix(), path.read_text(encoding="utf-8")


def test_no_library_module_indexes_registry():
    offenders = [
        f"{name}:{src.count(chr(10), 0, m.start()) + 1}"
        for name, src in _library_sources()
        for m in re.finditer(r"REGISTRY\[", src)
    ]
    assert offenders == []


def test_no_library_module_rewrites_a_spec():
    """No ``dataclasses.replace`` anywhere in the library: a frozen
    QuerySpec is never patched after ``register`` built it."""
    offenders = []
    for name, src in _library_sources():
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, ast.ImportFrom) and node.module == "dataclasses":
                if any(a.name == "replace" for a in node.names):
                    offenders.append(f"{name}:{node.lineno}")
            elif (
                isinstance(node, ast.Attribute)
                and node.attr == "replace"
                and isinstance(node.value, ast.Name)
                and node.value.id == "dataclasses"
            ):
                offenders.append(f"{name}:{node.lineno}")
    assert offenders == []


def test_operators_do_not_import_queries():
    offenders = []
    for path in sorted((PKG / "operators").glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(
                "algorithmproject_spark_spark.queries"
            ):
                offenders.append(f"operators/{path.name}:{node.lineno}")
    assert offenders == []


def test_registry_census():
    from algorithmproject_spark_spark.queries import REGISTRY

    assert len(REGISTRY) == 310
    rows_only = {name for name, spec in REGISTRY.items() if spec.oracle is None}
    assert rows_only == ROWS_ONLY


def _registering_modules() -> list[str]:
    """The modules ``queries/__init__.py`` imports to populate REGISTRY,
    in its order."""
    tree = ast.parse((PKG / "queries" / "__init__.py").read_text(encoding="utf-8"))
    mods = []
    for node in tree.body:
        if (
            isinstance(node, ast.ImportFrom)
            and node.module.startswith("algorithmproject_spark_spark.")
            and node.module != "algorithmproject_spark_spark.registry"
        ):
            mods += [f"{node.module}.{alias.name}" for alias in node.names]
    return mods


_REVERSED_IMPORT = """
import importlib, json, sys, types

import algorithmproject_spark_spark as root

# a bare package object, so importing a query module does not first run
# queries/__init__.py (which would import every module in its own order)
pkg = types.ModuleType("algorithmproject_spark_spark.queries")
pkg.__path__ = [sys.argv[1]]
sys.modules[pkg.__name__] = pkg
root.queries = pkg
for mod in json.loads(sys.argv[2]):
    importlib.import_module(mod)

from algorithmproject_spark_spark.registry import REGISTRY

print(json.dumps({name: spec.oracle for name, spec in REGISTRY.items()}))
"""


def test_reverse_import_order_gives_the_same_oracles():
    from algorithmproject_spark_spark.queries import REGISTRY

    mods = _registering_modules()
    assert len(mods) > 50
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            _REVERSED_IMPORT,
            str(PKG / "queries"),
            json.dumps(mods[::-1]),
        ],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    reversed_oracles = json.loads(out.stdout.strip().splitlines()[-1])
    assert reversed_oracles == {
        name: spec.oracle for name, spec in REGISTRY.items()
    }
