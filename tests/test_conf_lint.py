"""Session-conf lint: no package code flips a session conf except the
streamed gates' ``_state_width`` context manager.

A ``spark.conf.set`` on the caller's session is visible to every
other query that session runs while it holds, so each one is a
concurrency hazard and a restore the author can forget. The streamed
gates once carried ten hand-copied save/set/restore blocks; the one
sanctioned site is ``proglog_spark.queries._state_width``, which
restores in ``finally``.

AST-based (like tests/test_cache_lint.py) so mentions of
``.conf.set(`` inside comments and docstrings don't trip it.
"""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "proglog_spark"

ALLOWED = {("queries.py", "_state_width")}


def _conf_set_sites(tree: ast.AST):
    """Yield (enclosing function name or None, line) for every
    ``<expr>.conf.set(...)`` call."""

    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield from walk(child, child.name)
                continue
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "set"
                and isinstance(child.func.value, ast.Attribute)
                and child.func.value.attr == "conf"
            ):
                yield fn, child.lineno
            yield from walk(child, fn)

    yield from walk(tree, None)


def test_only_state_width_sets_session_conf():
    violations = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        for fn, line in _conf_set_sites(ast.parse(path.read_text())):
            if (rel, fn) not in ALLOWED:
                violations.append(f"proglog_spark/{rel}:{line} in {fn}")
    assert not violations, (
        "session conf set outside _state_width: "
        f"{violations} — narrow the shuffle width with "
        "queries._state_width instead of flipping the caller's conf"
    )


def test_lint_sees_the_sanctioned_site():
    """The walker must find _state_width's own set/restore pair — a
    lint that matches nothing passes vacuously."""
    tree = ast.parse((PACKAGE / "queries.py").read_text())
    assert [fn for fn, _ in _conf_set_sites(tree)] == ["_state_width"] * 2
