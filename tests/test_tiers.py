"""The test-tier split (conftest.FULL_TIER_TESTS) names real tests.

The full-tier list matches tests by ``file::name``; an entry whose test
was renamed or moved matches nothing, and the test it meant drops into
the default tier unnoticed. Read with ``ast`` only, so the check costs
no imports."""

from __future__ import annotations

import ast
import pathlib

TESTS = pathlib.Path(__file__).resolve().parent


def _full_tier_entries() -> set[str]:
    tree = ast.parse((TESTS / "conftest.py").read_text())
    return next(
        ast.literal_eval(n.value)
        for n in tree.body
        if isinstance(n, ast.Assign)
        and any(getattr(t, "id", None) == "FULL_TIER_TESTS" for t in n.targets)
    )


def _test_functions(path: pathlib.Path) -> set[str]:
    if not path.exists():
        return set()
    return {
        n.name
        for n in ast.walk(ast.parse(path.read_text()))
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    }


def test_full_tier_entries_name_existing_tests():
    entries = _full_tier_entries()
    assert entries
    missing = sorted(
        e for e in entries
        if e.split("::")[1] not in _test_functions(TESTS / e.split("::")[0])
    )
    assert not missing, missing
