"""The BM25 term score is built in one place,
`operators/bm25.py::term_score_sql`: the saturation arithmetic
`k1 + 1` and `1 - b` appears nowhere else in the package, neither as
Python arithmetic nor spelled out with the default constants in SQL
text. The oracle SQL in `registry.py` is the reference the engine is
graded against and is not searched."""

from __future__ import annotations

import ast
import os
import re

import neural_search_spark

K1_NAMES = {"k1", "K1"}
B_NAMES = {"b", "b_", "B"}
# the same arithmetic with the default K1 = 1.2, B = 0.75 written out
SQL_FORMS = re.compile(r"1\.2D?\s*\+\s*1(\.0)?D?|1(\.0)?D?\s*-\s*0\.75")


def _ident(node) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def _is_one(node) -> bool:
    return isinstance(node, ast.Constant) and node.value in (1, 1.0) and node.value is not True


def _saturation(node) -> bool:
    """`k1 + 1` (either order) or `1 - b`."""
    if not isinstance(node, ast.BinOp):
        return False
    if isinstance(node.op, ast.Add):
        pair = (node.left, node.right)
        return any(_ident(x) in K1_NAMES and _is_one(y) for x, y in (pair, pair[::-1]))
    if isinstance(node.op, ast.Sub):
        return _is_one(node.left) and _ident(node.right) in B_NAMES
    return False


def _found(tree, path):
    """(where, enclosing function) of each saturation expression."""
    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            inner = child.name if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)) else fn
            if _saturation(child):
                yield f"{path}:{child.lineno}", inner
            elif isinstance(child, ast.Constant) and isinstance(child.value, str):
                if SQL_FORMS.search(child.value):
                    yield f"{path}:{child.lineno}", inner
            yield from walk(child, inner)

    yield from walk(tree, None)


def test_bm25_saturation_only_in_term_score_sql():
    pkg = os.path.dirname(neural_search_spark.__file__)
    inside, outside = [], []
    for dirpath, _, files in os.walk(pkg):
        for fname in sorted(files):
            path = os.path.join(dirpath, fname)
            if not fname.endswith(".py") or path == os.path.join(pkg, "registry.py"):
                continue
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            for where, fn in _found(tree, os.path.relpath(path, pkg)):
                (inside if fn == "term_score_sql" else outside).append(where)
    assert outside == []
    assert len(inside) == 2, inside  # k1 + 1.0 and 1.0 - b


def test_term_score_sql_is_the_match_string():
    """`bm25_scores` (the benchmark's match and hybrid requests) keeps
    the exact SQL text it had before the formula moved."""
    from neural_search_spark.functions.vector import double_sql as d
    from neural_search_spark.operators import bm25 as B

    for n, avgdl, k1, b in ((500, 23.512, B.K1, B.B), (7, 1.0, 0.9, 0.4)):
        want = (
            f"ln(1.0D + ({d(n)} - df + 0.5D) / (df + 0.5D)) * (tf * {d(k1 + 1.0)})"
            f" / (tf + {d(k1)} * ({d(1.0 - b)} + {d(b)} * dl / {d(avgdl)}))"
        )
        assert B.term_score_sql(n, avgdl, k1, b) == want
