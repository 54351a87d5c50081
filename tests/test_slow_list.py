"""The slow-tier list (tests/slow_tests.txt) names only tests that exist.

conftest.py marks a test slow by exact node id, so a stale id marks
nothing and a renamed slow test silently moves into the fast tier.
Parsed with ast: no Spark, no imports of the test modules."""

import ast
from pathlib import Path

TESTS = Path(__file__).parent


def _test_functions() -> set[str]:
    out = set()
    for path in TESTS.glob("test_*.py"):
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and (
                node.name.startswith("test")
            ):
                out.add(f"tests/{path.name}::{node.name}")
    return out


def test_slow_list_names_existing_tests():
    ids = [
        line.strip()
        for line in (TESTS / "slow_tests.txt").read_text().splitlines()
        if line.strip() and not line.startswith("#")
    ]
    assert ids
    known = _test_functions()
    stale = [i for i in ids if i.split("[", 1)[0] not in known]
    assert not stale, f"slow_tests.txt names no test function: {stale}"
