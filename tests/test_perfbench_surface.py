"""The package surface that perfbench/ uses must exist (no Spark needed).

perfbench/ is the benchmark of record and imports the package by name:
``from gmall2021_flink_dw_spark.streaming import stateful`` then
``stateful.jump_detect_stream_bucketed(...)``. A deletion or rename in
the package would otherwise surface only as a failed benchmark run.
This test reads perfbench/*.py with ``ast`` and resolves every
``from gmall2021_flink_dw_spark... import name`` and every
``<imported module>.<attr>`` access, scope by scope.
"""

from __future__ import annotations

import ast
import glob
import importlib
import os
import pathlib
import types

PKG = "gmall2021_flink_dw_spark"
PERFBENCH = os.path.join(os.path.dirname(__file__), os.pardir, "perfbench")
_SCOPES = (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef)


def _resolve(module: str, name: str):
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return getattr(mod, name)
    # a submodule not yet imported by its package
    return importlib.import_module(f"{module}.{name}")


def _surface(path: str) -> tuple[list[str], list[str]]:
    """(resolved names, unresolved names) used by one perfbench file."""
    tree = ast.parse(pathlib.Path(path).read_text(), path)
    parent = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}

    def scopes(node):
        while node is not None:
            if isinstance(node, _SCOPES):
                yield node
            node = parent.get(node)

    bound: dict[tuple[ast.AST, str], object] = {}
    found: list[str] = []
    missing: list[str] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(PKG):
            scope = next(scopes(node))
            for alias in node.names:
                label = f"{node.module}.{alias.name}"
                try:
                    obj = _resolve(node.module, alias.name)
                except ImportError:
                    missing.append(label)
                    continue
                found.append(label)
                bound[(scope, alias.asname or alias.name)] = obj
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name)):
            continue
        obj = next(
            (bound[(s, node.value.id)] for s in scopes(node)
             if (s, node.value.id) in bound),
            None,
        )
        if isinstance(obj, types.ModuleType):
            label = f"{obj.__name__}.{node.attr}"
            (found if hasattr(obj, node.attr) else missing).append(label)
    return found, missing


def test_perfbench_names_exist_in_package() -> None:
    paths = sorted(glob.glob(os.path.join(PERFBENCH, "*.py")))
    assert paths, "perfbench/ not found"
    found: list[str] = []
    missing: list[str] = []
    for path in paths:
        f, m = _surface(path)
        found += f
        missing += m
    assert not missing, f"perfbench uses names the package lacks: {missing}"
    # the walk reached the attribute accesses, not only the imports
    assert any(n.endswith(".stateful.jump_detect_stream_bucketed") for n in found)
