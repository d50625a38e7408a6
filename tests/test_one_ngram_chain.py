"""The sliding n-gram definition lives in one place,
``operators/text.py:sliding_ngrams``: every shingle, span gram and
corpus-state shingle event calls it, so no second ``zip_with`` chain
over shifted ``slice``s may appear in the package.

Pure ``ast`` over the source files — no JVM. A chain is an assignment
``sh = zip_with(sh, shifted, ...)`` that folds a ``slice(...)`` of the
token array back into its own first argument, the ``slice`` written
inline or bound to a name in the same function. A one-off pair zip
(``zip_with(arr, slice(arr, 2, ...))`` whose result is not fed back)
is not a chain.
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark",
)


def _called(node: ast.AST, name: str) -> bool:
    if not isinstance(node, ast.Call):
        return False
    f = node.func
    return (isinstance(f, ast.Name) and f.id == name) or (
        isinstance(f, ast.Attribute) and f.attr == name
    )


def ngram_chains(tree: ast.AST) -> list[str]:
    """Names of the functions in ``tree`` that hold an n-gram chain."""
    out = []
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        assigns = [n for n in ast.walk(fn) if isinstance(n, ast.Assign)]
        slices = {
            t.id
            for n in assigns
            if _called(n.value, "slice")
            for t in n.targets
            if isinstance(t, ast.Name)
        }
        for n in assigns:
            call = n.value
            if not (_called(call, "zip_with") and len(call.args) >= 2):
                continue
            acc, other = call.args[0], call.args[1]
            fed_back = isinstance(acc, ast.Name) and any(
                isinstance(t, ast.Name) and t.id == acc.id for t in n.targets
            )
            sliced = _called(other, "slice") or (
                isinstance(other, ast.Name) and other.id in slices
            )
            if fed_back and sliced:
                out.append(fn.name)
                break
    return out


def package_chains(pkg: str = PKG) -> list[str]:
    """``"<relpath>:<function>"`` for every n-gram chain under ``pkg``."""
    found = []
    for root, _dirs, files in os.walk(pkg):
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            with open(path) as f:
                tree = ast.parse(f.read())
            rel = os.path.relpath(path, pkg)
            found += [f"{rel}:{name}" for name in ngram_chains(tree)]
    return found


def test_ngram_chains_sees_chains_not_pair_zips():
    """The detector counts a fed-back chain, with the slice inline or
    named, and skips a one-off pair zip."""
    named, inline, pair = (
        ngram_chains(ast.parse(src))
        for src in (
            "def a(t, n):\n"
            "    sh = t\n"
            "    for j in range(1, n):\n"
            "        shifted = F.slice(t, j + 1, F.size(t) - j)\n"
            "        sh = F.zip_with(sh, shifted, lambda x, y: x)\n"
            "    return sh\n",
            "def b(t, n):\n"
            "    sh = t\n"
            "    for j in range(1, n):\n"
            "        sh = zip_with(sh, slice(t, j + 1, 9), lambda x, y: x)\n"
            "    return sh\n",
            "def c(arr):\n"
            "    pairs = F.zip_with(arr, F.slice(arr, 2, 9), lambda l, r: l)\n"
            "    return pairs\n",
        )
    )
    assert (named, inline, pair) == (["a"], ["b"], [])


def test_package_holds_one_ngram_chain():
    chains = package_chains()
    assert chains == ["operators/text.py:sliding_ngrams"], (
        "n-gram chains outside text.sliding_ngrams; call it instead: "
        f"{chains}"
    )
