"""Every measurement script still imports against the package.

Scripts run only when someone re-measures, so a deleted or renamed
package name would otherwise surface as an ImportError or
AttributeError months later. This check needs no Spark session: it
AST-parses ``bench.py`` and ``scripts/*.py`` and resolves, against the
imported package modules,

* every ``from <package>[.sub] import name``;
* every ``<bound module>.<attr>`` read, where the module was bound by
  such an import (e.g. ``similarity.ivf_topk``);
* every keyword argument passed to a package callable reached either
  way: it must name a parameter of the callable (unless it takes
  ``**kwargs``). A ``**cfg`` splat is checked when the file spells
  ``cfg`` out as ``dict(...)`` / ``{...}`` literals (directly, through
  a loop over a dict of them, or as ``**configs[key]``).
"""

from __future__ import annotations

import ast
import importlib
import inspect
import types
from pathlib import Path

import pytest

PACKAGE = "real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark"
ROOT = Path(__file__).resolve().parent.parent
SCRIPTS = sorted([ROOT / "bench.py", *(ROOT / "scripts").glob("*.py")])


def _literal_keys(node: ast.AST) -> set[str]:
    if (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id == "dict"
    ):
        return {k.arg for k in node.keywords if k.arg}
    if isinstance(node, ast.Dict):
        return {
            k.value
            for k in node.keys
            if isinstance(k, ast.Constant) and isinstance(k.value, str)
        }
    return set()


def _assigned(tree: ast.AST, name: str) -> list[ast.AST]:
    return [
        n.value
        for n in ast.walk(tree)
        if isinstance(n, ast.Assign)
        and any(isinstance(t, ast.Name) and t.id == name for t in n.targets)
    ]


def _splat_keys(tree: ast.AST, expr: ast.AST) -> set[str]:
    """Keys of a ``**expr`` splat that the file spells out literally."""
    if isinstance(expr, ast.Subscript) and isinstance(expr.value, ast.Name):
        return {
            k
            for d in _assigned(tree, expr.value.id)
            if isinstance(d, ast.Dict)
            for v in d.values
            for k in _literal_keys(v)
        }
    if not isinstance(expr, ast.Name):
        return set()
    keys = {k for v in _assigned(tree, expr.id) for k in _literal_keys(v)}
    for loop in ast.walk(tree):
        it = getattr(loop, "iter", None)
        if (
            isinstance(loop, ast.For)
            and isinstance(it, ast.Call)
            and isinstance(it.func, ast.Attribute)
            and it.func.attr in ("items", "values")
            and isinstance(it.func.value, ast.Name)
            and any(
                isinstance(t, ast.Name) and t.id == expr.id
                for t in ast.walk(loop.target)
            )
        ):
            keys |= _splat_keys(
                tree, ast.Subscript(value=it.func.value, slice=expr)
            )
    return keys


def _unknown_keywords(tree: ast.AST, call: ast.Call, fn) -> list[str]:
    try:
        params = inspect.signature(fn).parameters.values()
    except (TypeError, ValueError):  # no introspectable signature
        return []
    if any(p.kind is p.VAR_KEYWORD for p in params):
        return []
    names = {p.name for p in params if p.kind is not p.POSITIONAL_ONLY}
    passed = set()
    for k in call.keywords:
        passed |= {k.arg} if k.arg else _splat_keys(tree, k.value)
    return [
        f"line {call.lineno}: {fn.__name__}() has no parameter {k!r}"
        for k in sorted(passed - names)
    ]


def _unresolved(path: Path) -> list[str]:
    tree = ast.parse(path.read_text(), filename=str(path))
    missing: list[str] = []
    # names bound to package modules / package callables anywhere in
    # the file
    modules: dict[str, types.ModuleType] = {}
    callables: dict[str, object] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and (
            node.module or ""
        ).split(".")[0] == PACKAGE:
            mod = importlib.import_module(node.module)
            for alias in node.names:
                if hasattr(mod, alias.name):
                    obj = getattr(mod, alias.name)
                else:
                    try:
                        obj = importlib.import_module(
                            f"{node.module}.{alias.name}"
                        )
                    except ModuleNotFoundError:
                        missing.append(
                            f"line {node.lineno}: {node.module} has no "
                            f"{alias.name!r}"
                        )
                        continue
                if isinstance(obj, types.ModuleType):
                    modules[alias.asname or alias.name] = obj
                elif callable(obj):
                    callables[alias.asname or alias.name] = obj
    for node in ast.walk(tree):
        if not (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in modules
        ):
            continue
        mod = modules[node.value.id]
        if hasattr(mod, node.attr):
            continue
        try:
            importlib.import_module(f"{mod.__name__}.{node.attr}")
        except ModuleNotFoundError:
            missing.append(
                f"line {node.lineno}: {node.value.id}.{node.attr} "
                f"({mod.__name__} has no {node.attr!r})"
            )
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        if isinstance(f, ast.Name) and f.id in callables:
            fn = callables[f.id]
        elif (
            isinstance(f, ast.Attribute)
            and isinstance(f.value, ast.Name)
            and f.value.id in modules
            and callable(getattr(modules[f.value.id], f.attr, None))
        ):
            fn = getattr(modules[f.value.id], f.attr)
        else:
            continue
        missing += _unknown_keywords(tree, node, fn)
    return missing


@pytest.mark.parametrize(
    "path", SCRIPTS, ids=[str(p.relative_to(ROOT)) for p in SCRIPTS]
)
def test_script_package_references_resolve(path):
    missing = _unresolved(path)
    assert not missing, f"{path.name}: " + "; ".join(missing)
