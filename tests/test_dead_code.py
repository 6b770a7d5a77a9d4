"""Dead-code guard (no Spark): every top-level function of the package
must be referenced somewhere outside its own definition — in the
package, the tests, tools/, perfbench/, bench.py or __spark_entry__.py.

A reference is any occurrence of the name as an identifier, so dynamic
uses (a registry dict entry, a docstring pointer, a re-export) count.
The package ``__init__`` files' imports are such references: the names
they export are the guard's only exemption, as public API whose
callers live outside the repository."""

from __future__ import annotations

import ast
import os
import re
from collections import defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "steel_energy_consumption_prediction_using_pyspark_spark"
SEARCHED = [PACKAGE, "tests", "tools", "perfbench", "bench.py", "__spark_entry__.py"]
_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _py_files(root: str) -> list[str]:
    path = os.path.join(REPO, root)
    if os.path.isfile(path):
        return [path]
    return sorted(
        os.path.join(d, f)
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".py")
    )


def unreferenced_functions(repo: str = REPO) -> list[str]:
    """`module:function` for each top-level def with no reference
    outside the lines of its own definition."""
    uses: dict[str, set[tuple[str, int]]] = defaultdict(set)
    files = [f for root in SEARCHED for f in _py_files(root)]
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for lineno, line in enumerate(fh, 1):
                for name in _IDENT.findall(line):
                    uses[name].add((path, lineno))
    dead = []
    for path in _py_files(PACKAGE):
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read())
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            first = min([node.lineno] + [d.lineno for d in node.decorator_list])
            own = {(path, n) for n in range(first, node.end_lineno + 1)}
            if not uses[node.name] - own:
                dead.append(f"{os.path.relpath(path, repo)}:{node.name}")
    return dead


def test_every_package_function_is_referenced():
    assert unreferenced_functions() == []
