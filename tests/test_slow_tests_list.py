"""Every id in ``tests/slow_tests.txt`` must name a test that exists.

The conftest deselects the ids it lists; an id whose test was deleted or
renamed deselects nothing and fails nowhere, so the list rots silently.
The check parses the test files with ``ast`` and needs no Spark session
and no collection run.
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SLOW_LIST = os.path.join(ROOT, "tests", "slow_tests.txt")


def _defines(body: list[ast.stmt], path: list[str]) -> bool:
    """True when ``path`` (class names, then the test name) is defined
    in ``body``."""
    head, rest = path[0], path[1:]
    for node in body:
        if getattr(node, "name", None) != head:
            continue
        if not rest:
            return True
        if isinstance(node, ast.ClassDef) and _defines(node.body, rest):
            return True
    return False


def test_every_slow_id_names_an_existing_test():
    with open(SLOW_LIST, encoding="utf-8") as fh:
        ids = [ln.strip() for ln in fh if ln.strip()]
    trees: dict[str, ast.Module | None] = {}
    stale = []
    for node_id in ids:
        file, *names = node_id.split("::")
        names[-1] = names[-1].split("[", 1)[0]  # parametrize suffix
        if file not in trees:
            full = os.path.join(ROOT, file)
            trees[file] = None
            if os.path.isfile(full):
                with open(full, encoding="utf-8") as fh:
                    trees[file] = ast.parse(fh.read())
        tree = trees[file]
        if tree is None or not _defines(tree.body, names):
            stale.append(node_id)
    assert not stale, f"slow_tests.txt names tests that do not exist: {stale}"
