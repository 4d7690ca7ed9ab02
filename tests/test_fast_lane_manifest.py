"""Contract between the fast-lane skip list and the suite it skips.

``tests/fast_lane_skip.json`` lists, by exact nodeid, the tests a
default run deselects (see ``conftest.pytest_collection_modifyitems``).
A renamed or deleted test leaves a stale entry behind that silently
skips nothing; these checks make such drift fail loudly. The suite is
not collected: each test file is parsed with ``ast``.
"""

from __future__ import annotations

import ast
import json
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
SKIP = json.loads((ROOT / "tests" / "fast_lane_skip.json").read_text())
DURATIONS = json.loads((ROOT / "tests" / "test_durations.json").read_text())
SLOW_S = 2.0


def _test_names(path: pathlib.Path) -> set[str]:
    """Nodeid tails of the test functions a file defines: ``test_x``
    at module level, ``TestC::test_x`` for methods of a class."""
    names = set()
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            names.add(node.name)
        elif isinstance(node, ast.ClassDef):
            names.update(
                f"{node.name}::{item.name}"
                for item in node.body
                if isinstance(item, (ast.FunctionDef, ast.AsyncFunctionDef))
            )
    return names


def test_every_skipped_nodeid_names_an_existing_test():
    defined: dict[str, set[str]] = {}
    stale = []
    for nodeid in SKIP:
        file, _, tail = nodeid.partition("::")
        if file not in defined:
            path = ROOT / file
            defined[file] = _test_names(path) if path.is_file() else set()
        if tail.split("[", 1)[0] not in defined[file]:
            stale.append(nodeid)
    assert not stale, f"fast_lane_skip.json names tests that do not exist: {stale}"


def test_every_skipped_nodeid_was_recorded_slow():
    fast = [n for n in SKIP if DURATIONS.get(n, 0.0) < SLOW_S]
    assert not fast, (
        f"fast_lane_skip.json entries without a >= {SLOW_S} s record in "
        f"test_durations.json: {fast}"
    )
