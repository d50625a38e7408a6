"""Every incremental state grain has one definition, in ``operators/``:
a stream calls the batch operator's function unchanged, so no function
in ``streaming/*.py`` may restate the body of one in ``operators/*.py``.

Pure ``ast`` over the source files — no JVM. Two bodies count as the
same when their ``ast.dump`` agree after dropping the docstring and
every import statement, and after renaming the parameters by position
(``documents`` and ``docs_stream`` are the same first argument).
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark",
)


class _Normalise(ast.NodeTransformer):
    def __init__(self, params: list[str]) -> None:
        self.names = {p: f"_arg{i}" for i, p in enumerate(params)}

    def visit_Name(self, node: ast.Name) -> ast.Name:
        node.id = self.names.get(node.id, node.id)
        return node

    def visit_Import(self, node: ast.Import) -> None:
        return None

    def visit_ImportFrom(self, node: ast.ImportFrom) -> None:
        return None


def body_key(fn: ast.FunctionDef) -> str:
    """``ast.dump`` of ``fn``'s body without docstring and imports,
    parameters renamed by position."""
    a = fn.args
    params = [p.arg for p in a.posonlyargs + a.args + a.kwonlyargs]
    params += [p.arg for p in (a.vararg, a.kwarg) if p is not None]
    body = list(fn.body)
    if (
        body
        and isinstance(body[0], ast.Expr)
        and isinstance(body[0].value, ast.Constant)
        and isinstance(body[0].value.value, str)
    ):
        body = body[1:]
    mod = _Normalise(params).visit(ast.Module(body=body, type_ignores=[]))
    return ast.dump(mod)


def functions(subdir: str) -> dict[str, str]:
    """``{"<file>:<name>": body_key}`` for every function, nested ones
    included, in ``<package>/<subdir>/*.py``."""
    out = {}
    d = os.path.join(PKG, subdir)
    for fname in sorted(os.listdir(d)):
        if not fname.endswith(".py"):
            continue
        with open(os.path.join(d, fname)) as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                out[f"{subdir}/{fname}:{node.name}"] = body_key(node)
    return out


def test_body_key_sees_through_names_docstrings_and_imports():
    """The normalisation the guard relies on: a renamed copy with its
    own docstring and local imports has the same key; a changed
    expression does not."""
    a, b, c = (
        ast.parse(src).body[0]
        for src in (
            'def f(documents, n=5):\n    """Doc."""\n'
            "    return documents.groupBy('doc_id').agg(g(n))\n",
            "def f_streaming(docs_stream, n=5):\n"
            '    """Other doc."""\n    from .x import g\n'
            "    return docs_stream.groupBy('doc_id').agg(g(n))\n",
            "def f(documents, n=5):\n"
            "    return documents.groupBy('doc_id').agg(g(n + 1))\n",
        )
    )
    assert body_key(a) == body_key(b) != body_key(c)


def test_streaming_restates_no_operator_body():
    ops = {}
    for name, key in functions("operators").items():
        ops.setdefault(key, []).append(name)
    copies = {
        name: ops[key]
        for name, key in functions("streaming").items()
        if key in ops
    }
    assert not copies, (
        "streaming functions restate an operator body; call the "
        f"operator instead: {copies}"
    )
