"""Source pin: library code changes session conf only through
``session.scoped_conf``, so no library call leaves conf behind in the
caller's session."""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _conf_writes(path: str) -> list[tuple[int, str]]:
    """``<...>conf.set(`` / ``<...>conf.unset(`` calls in one source file,
    outside the body of ``scoped_conf``."""
    with open(path) as f:
        tree = ast.parse(f.read())
    allowed: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef) and node.name == "scoped_conf":
            allowed.update(range(node.lineno, node.end_lineno + 1))
    out = []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("set", "unset")
            and ast.unparse(node.func.value).endswith("conf")
            and node.lineno not in allowed
        ):
            out.append((node.lineno, ast.unparse(node)))
    return out


def test_library_changes_session_conf_only_through_scoped_conf():
    paths = [os.path.join(REPO, "__spark_entry__.py")]
    for root, _, files in os.walk(os.path.join(REPO, "sf_epa_data_ingestion_spark")):
        paths += [os.path.join(root, f) for f in files if f.endswith(".py")]
    found = {
        os.path.relpath(p, REPO): hits for p in sorted(paths) if (hits := _conf_writes(p))
    }
    assert found == {}, f"session conf written outside scoped_conf: {found}"
