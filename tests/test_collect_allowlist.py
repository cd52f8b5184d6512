"""Every driver collect in ``rdfind_spark/operators`` is listed here with
its bound; a new one fails until it is reviewed and added.  Spark-free:
the sites are found in the source's syntax tree."""

from __future__ import annotations

import ast
import os
from collections import Counter

OPERATORS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "rdfind_spark", "operators"
)
COLLECTS = {"collect", "first", "take", "head", "toPandas", "toLocalIterator"}
ALLOWED = {
    # one row: four distinct counts
    "cind.assert_hash_injective": 1,
    # at most MAX_HOT_MASK hot-line keys
    "cind.hot_line_census": 1,
}


def _collect_sites(path: str, module: str) -> Counter:
    sites: Counter = Counter()

    def visit(node: ast.AST, scope: list[str]) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                visit(child, scope + [child.name])
                continue
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr in COLLECTS
            ):
                sites[".".join([module, *scope])] += 1
            visit(child, scope)

    with open(path, encoding="utf-8") as fh:
        visit(ast.parse(fh.read(), path), [])
    return sites


def test_operator_collects_are_allowlisted():
    """The engine's driver collects are bounded by construction; an
    unlisted ``.collect()``/``.first()``/``.take()``/``.head()``/
    ``.toPandas()``/``.toLocalIterator()`` is how an unbounded one
    slips in."""
    found: Counter = Counter()
    for name in sorted(os.listdir(OPERATORS)):
        if name.endswith(".py"):
            found += _collect_sites(os.path.join(OPERATORS, name), name[:-3])
    assert dict(found) == ALLOWED
