"""Every measurement script still imports against the package.

Scripts run only when someone re-measures, so a deleted or renamed
package name would otherwise surface as an ImportError or
AttributeError months later. This check needs no Spark session: it
AST-parses ``bench.py`` and ``scripts/*.py`` and resolves, against the
imported package modules,

* every ``from <package>[.sub] import name``;
* every ``<bound module>.<attr>`` read, where the module was bound by
  such an import (e.g. ``similarity.ivf_topk``).
"""

from __future__ import annotations

import ast
import importlib
import types
from pathlib import Path

import pytest

PACKAGE = "real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark"
ROOT = Path(__file__).resolve().parent.parent
SCRIPTS = sorted([ROOT / "bench.py", *(ROOT / "scripts").glob("*.py")])


def _unresolved(path: Path) -> list[str]:
    tree = ast.parse(path.read_text(), filename=str(path))
    missing: list[str] = []
    # names bound to package modules anywhere in the file
    modules: dict[str, types.ModuleType] = {}
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
    return missing


@pytest.mark.parametrize(
    "path", SCRIPTS, ids=[str(p.relative_to(ROOT)) for p in SCRIPTS]
)
def test_script_package_references_resolve(path):
    missing = _unresolved(path)
    assert not missing, f"{path.name}: " + "; ".join(missing)
