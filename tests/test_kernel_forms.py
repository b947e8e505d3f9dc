"""One Spark form per kernel: the shared kernels in ``functions/`` are
SQL text (``ss_*``/``sql_*``), never Column builders, and no function in
``functions/`` or ``ml/`` dispatches on ``Column | str``."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "algorithmproject_spark_spark"


def _functions(subdir: str):
    for path in sorted((PKG / subdir).glob("*.py")):
        tree = ast.parse(path.read_text(encoding="utf-8"))
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield f"{subdir}/{path.name}::{node.name}", node


def _mentions_column(annotation: ast.expr | None) -> bool:
    return annotation is not None and "Column" in ast.unparse(annotation)


def test_no_public_kernel_returns_column():
    offenders = [
        name
        for name, fn in _functions("functions")
        if not fn.name.startswith("_") and _mentions_column(fn.returns)
    ]
    assert offenders == []


def test_no_column_or_str_parameters():
    offenders = []
    for subdir in ("functions", "ml"):
        for name, fn in _functions(subdir):
            args = fn.args
            for arg in args.posonlyargs + args.args + args.kwonlyargs:
                ann = arg.annotation
                if _mentions_column(ann) and "str" in ast.unparse(ann):
                    offenders.append(f"{name}({arg.arg})")
    assert offenders == []
