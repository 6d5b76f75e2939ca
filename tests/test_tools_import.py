"""The scripts under ``tools/`` and ``bench.py`` import, and every engine
name they use resolves (no Spark needed).

A script names engine symbols inside functions that only run when
someone runs the script, so a renamed or removed symbol, or a dropped
keyword argument, used to surface as a crash at run time. This guard
imports each script, then resolves against the live package every
``from <engine module> import name``, every attribute read through an
engine module alias (``L.CHAMPION_AUTO_MIN_ALIASES``) and every keyword
argument passed to an engine function."""

from __future__ import annotations

import ast
import importlib
import importlib.util
import inspect
import pathlib

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
SCRIPTS = sorted((ROOT / "tools").glob("*.py")) + [ROOT / "bench.py"]
ENGINE = ("drugbankner_spark", "__spark_entry__", "bench")


def _is_engine(module: str | None) -> bool:
    return bool(module) and module.split(".")[0] in ENGINE


def _resolve(module: str, name: str):
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return getattr(mod, name)
    return importlib.import_module(f"{module}.{name}")


def _bindings(tree: ast.AST) -> tuple[dict, list[str]]:
    """Local name → engine object for every engine import in the file
    (function bodies included), plus the imports that do not resolve."""
    bound, missing = {}, []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and not node.level \
                and _is_engine(node.module):
            for a in node.names:
                try:
                    bound[a.asname or a.name] = _resolve(node.module, a.name)
                except ImportError:
                    missing.append(f"from {node.module} import {a.name}")
        elif isinstance(node, ast.Import):
            for a in node.names:
                if _is_engine(a.name) and a.asname:
                    bound[a.asname] = importlib.import_module(a.name)
                elif _is_engine(a.name):
                    top = a.name.split(".")[0]
                    bound[top] = importlib.import_module(top)
    return bound, missing


def _target(node: ast.expr, bound: dict):
    """The engine object an expression names, or None."""
    if isinstance(node, ast.Name):
        return bound.get(node.id)
    if isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
        mod = bound.get(node.value.id)
        if inspect.ismodule(mod):
            return getattr(mod, node.attr, None)
    return None


def _unresolved(path: pathlib.Path) -> list[str]:
    tree = ast.parse(path.read_text())
    bound, bad = _bindings(tree)
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
            mod = bound.get(node.value.id)
            if inspect.ismodule(mod) and not hasattr(mod, node.attr):
                bad.append(f"{node.value.id}.{node.attr} (line {node.lineno})")
        if isinstance(node, ast.Call):
            fn = _target(node.func, bound)
            if not callable(fn) or inspect.isclass(fn):
                continue
            params = inspect.signature(fn).parameters
            if any(p.kind is p.VAR_KEYWORD for p in params.values()):
                continue
            bad += [f"{ast.unparse(node.func)}({kw.arg}=) (line {node.lineno})"
                    for kw in node.keywords
                    if kw.arg is not None and kw.arg not in params]
    return bad


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: p.name)
def test_script_imports_and_names_resolve(path):
    spec = importlib.util.spec_from_file_location(
        f"_script_{path.stem}", path
    )
    spec.loader.exec_module(importlib.util.module_from_spec(spec))
    assert _unresolved(path) == []
