"""Engine preconditions must hold under ``python -O``, which strips
every ``assert`` statement: the package raises instead."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "common_crawl___autumn_2025_spark"


def test_engine_has_no_assert_statements():
    found = [
        f"{path.relative_to(PKG.parent)}:{node.lineno}"
        for path in sorted(PKG.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path)))
        if isinstance(node, ast.Assert)
    ]
    assert not found, "assert statements in the engine: " + ", ".join(found)
