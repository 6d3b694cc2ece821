"""Guard: every entry of the slow manifest (tests/slow_tests.txt) names
a test that exists.

conftest.py marks a test `slow` only when its node id is in the
manifest, so an entry left behind by a renamed or moved test silently
drops that test into the default tier.  Resolved with `ast`, no
session: the file, the class and the function must all be defined
(parametrize ids are ignored).
"""

from __future__ import annotations

import ast
import pathlib

REPO = pathlib.Path(__file__).resolve().parent.parent
MANIFEST = REPO / "tests" / "slow_tests.txt"


def _defined(path: pathlib.Path) -> set[tuple[str, ...]]:
    """(func,) for module-level tests, (cls, func) for methods."""
    tree = ast.parse(path.read_text())
    names: set[tuple[str, ...]] = set()
    funcs = (ast.FunctionDef, ast.AsyncFunctionDef)
    for node in tree.body:
        if isinstance(node, funcs):
            names.add((node.name,))
        elif isinstance(node, ast.ClassDef):
            names.update(
                (node.name, f.name) for f in node.body if isinstance(f, funcs)
            )
    return names


def test_every_manifest_entry_resolves():
    entries = [
        line.strip() for line in MANIFEST.read_text().splitlines()
        if line.strip()
    ]
    assert entries
    cache: dict[str, set] = {}
    missing = []
    for entry in entries:
        file, *parts = entry.split("[", 1)[0].split("::")
        path = REPO / file
        if not path.is_file():
            missing.append(entry)
            continue
        if file not in cache:
            cache[file] = _defined(path)
        if tuple(parts) not in cache[file]:
            missing.append(entry)
    assert not missing, missing
