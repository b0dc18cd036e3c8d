"""Mechanical gate for the copy-on-write commit protocol.

Every commit of a new snapshot version must go through ONE tail,
``Collection._commit_snapshot`` (catalog.py): lock → check → version dir
→ index meta → pointer swap. A second hand-written copy is how the
ordering bugs of the past got in (an unlocked commit, a re-stamp on the
wrong side of the swap), so this test walks the AST of vrod_spark/ and
requires, keyed by (file, enclosing function):

- ``_next_version_dir(`` and ``._commit(`` are called from exactly one
  function;
- the ``".staging-"`` literal appears only in the staging helper and in
  TRUNCATEWAL's abandoned-staging check (docstrings aside).
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.join(REPO, "vrod_spark")

#: call attribute -> the only (relpath, function) allowed to call it.
COMMIT_CALLS: dict[str, tuple[str, str]] = {
    "_next_version_dir": ("catalog.py", "_commit_snapshot"),
    "_commit": ("catalog.py", "_commit_snapshot"),
}

#: (relpath, function) allowed to hold a ".staging-" string literal.
STAGING_LITERALS = {
    ("catalog.py", "staging_dir"),
    ("catalog.py", "_truncate_wal_locked"),
}


def _docstring_nodes(tree: ast.AST) -> set[int]:
    out = set()
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                out.add(id(body[0].value))
    return out


def _sites() -> tuple[list[tuple[str, str, str, int]], list[tuple[str, str, int]]]:
    """(commit-call sites as (attr, file, function, line), staging-literal
    sites as (file, function, line))."""
    calls: list[tuple[str, str, str, int]] = []
    literals: list[tuple[str, str, int]] = []
    for dirpath, dirnames, files in os.walk(ROOT):
        dirnames[:] = [d for d in dirnames if d != "__pycache__"]
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, ROOT)
            with open(path, encoding="utf-8") as f:
                tree = ast.parse(f.read(), filename=rel)
            docstrings = _docstring_nodes(tree)

            def walk(node: ast.AST, fname: str) -> None:
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    fname = node.name
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in COMMIT_CALLS
                ):
                    calls.append((node.func.attr, rel, fname, node.lineno))
                if (
                    isinstance(node, ast.Constant)
                    and isinstance(node.value, str)
                    and ".staging-" in node.value
                    and id(node) not in docstrings
                ):
                    literals.append((rel, fname, node.lineno))
                for child in ast.iter_child_nodes(node):
                    walk(child, fname)

            walk(tree, "<module>")
    return calls, literals


def test_one_function_allocates_versions_and_swaps_the_pointer():
    calls, _ = _sites()
    for attr, owner in COMMIT_CALLS.items():
        sites = [(rel, fn, line) for a, rel, fn, line in calls if a == attr]
        assert sites, f"no {attr}( call left — update COMMIT_CALLS"
        strays = [f"{rel}:{line} (in {fn})" for rel, fn, line in sites
                  if (rel, fn) != owner]
        assert not strays, (
            f"{attr}( called outside {owner[0]}::{owner[1]} — commit "
            f"through Collection._commit_snapshot instead: {strays}"
        )


def test_staging_dirs_come_from_one_helper():
    _, literals = _sites()
    strays = [f"{rel}:{line} (in {fn})" for rel, fn, line in literals
              if (rel, fn) not in STAGING_LITERALS]
    assert not strays, (
        "'.staging-' literal outside Collection.staging_dir / TRUNCATEWAL's "
        f"GC — take a staging dir from Collection.staging_dir(): {strays}"
    )
    seen = {(rel, fn) for rel, fn, _ in literals}
    assert seen == STAGING_LITERALS, f"stale allowlist entry: {STAGING_LITERALS - seen}"
