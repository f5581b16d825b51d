"""Structural guard for the single materialization mechanism.

``operators/pinning.py`` is the only module that knows how an
intermediate is materialized and released: :func:`pin` for
plan-referenced intermediates, :func:`scoped_pin` for build-scoped
ones. A bare ``localCheckpoint``/``persist``/``checkpoint``/``cache``/
``unpersist`` call anywhere else in the package is a third mechanism
creeping back in — one whose release nobody reviewed. This census
walks the package's call sites (AST, so docstrings and comments do not
count) and fails on any site missing from the allowlist below.
"""

from __future__ import annotations

import ast
import os

import skoltexter_by_ai_spark as pkg

_PKG_DIR = os.path.dirname(os.path.abspath(pkg.__file__))
_METHODS = {"localCheckpoint", "persist", "checkpoint", "cache", "unpersist"}
_HOME = os.path.join("operators", "pinning.py")

# (file, enclosing top-level function, method) -> why the site is not
# on pin/scoped_pin.
ALLOWED: dict[tuple[str, str, str], str] = {
    (os.path.join("operators", "dedup.py"), "incremental_near_dups", "persist"): (
        "x122 candidate cache: its lifetime spans the caller's micro-batch, "
        "so the caller releases it through release_candidate_cache"
    ),
    (os.path.join("operators", "dedup.py"), "release_candidate_cache", "unpersist"): (
        "the public release API of the x122 candidate cache"
    ),
}


def _census() -> set[tuple[str, str, str]]:
    sites: set[tuple[str, str, str]] = set()
    for root, _, files in os.walk(_PKG_DIR):
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            rel = os.path.relpath(path, _PKG_DIR)
            if rel == _HOME:
                continue
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read())
            funcs = [
                (n.name, n.lineno, n.end_lineno or n.lineno)
                for n in tree.body
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in _METHODS
                ):
                    enclosing = next(
                        (f for f, lo, hi in funcs if lo <= node.lineno <= hi),
                        "<module>",
                    )
                    sites.add((rel, enclosing, node.func.attr))
    return sites


def test_every_materialization_goes_through_pinning():
    sites = _census()
    new = sites - set(ALLOWED)
    gone = set(ALLOWED) - sites
    assert not new, (
        f"bare materialization calls outside {_HOME}: {sorted(new)}. Use "
        "pinning.pin (the returned plan reads the intermediate) or "
        "pinning.scoped_pin (only the builder's own jobs read it)."
    )
    assert not gone, (
        f"allowlisted materialization sites disappeared: {sorted(gone)}. "
        "Prune ALLOWED so the census stays exact."
    )

