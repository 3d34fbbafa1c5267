"""Static guard: the commit protocol has ONE implementation.

Every versioned table (sensors, values, rollups, ANN layouts) commits
through ``storage/lake.py``: ``commit_version`` is the only caller of
the version-naming, claim and prune primitives, ``retry_commit`` the
only optimistic retry loop (and the only user of the staleness test),
and ``link_files`` the only hard-link clone. A second hand-rolled copy
growing back anywhere in the package fails here, before it can drift
from the first. Pure AST/text checks — no Spark session.
"""

from __future__ import annotations

import ast
import os

import pytest

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "sensapp_spark",
)


def _sources():
    for root, _, files in os.walk(PKG):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path) as fh:
                    yield os.path.relpath(path, PKG), fh.read()


def _uses(name_test):
    """(module, enclosing function, line) of every Name/Attribute node
    whose identifier satisfies ``name_test`` — definitions excluded."""
    out = []
    for rel, src in _sources():

        def visit(node, func):
            for child in ast.iter_child_nodes(node):
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    # Nested helpers (a retry attempt's closure) count
                    # as their outermost module-level function.
                    visit(child, func or child.name)
                    continue
                ident = None
                if isinstance(child, ast.Name):
                    ident = child.id
                elif isinstance(child, ast.Attribute):
                    base = child.value
                    prefix = base.id + "." if isinstance(base, ast.Name) else ""
                    ident = prefix + child.attr
                if ident is not None and name_test(ident):
                    out.append((rel, func, child.lineno))
                visit(child, func)

        visit(ast.parse(src), None)
    return out


def _bare(ident):
    return ident.rsplit(".", 1)[-1]


@pytest.mark.parametrize(
    "primitive", ["_claim_commit", "_next_version", "_prune_versions"]
)
def test_commit_primitives_only_inside_commit_version(primitive):
    where = {
        (rel, func)
        for rel, func, _ in _uses(lambda i: _bare(i) == primitive)
    }
    assert where == {("storage/lake.py", "commit_version")}, where


def test_staleness_test_only_inside_retry_commit():
    where = {
        (rel, func)
        for rel, func, _ in _uses(
            lambda i: _bare(i) == "_is_stale_scan_error"
        )
    }
    assert where == {("storage/lake.py", "retry_commit")}, where


def test_hard_links_only_in_the_clone_helper_and_the_log_store():
    where = {
        (rel, func) for rel, func, _ in _uses(lambda i: i == "os.link")
    }
    allowed = {("storage/lake.py", "link_files")}
    assert {w for w in where if w[0] != "storage/logstore.py"} == allowed


def test_no_pointer_era_names_remain():
    gone = (
        "_CURRENT", "CURRENT_PTR", "_flip_current",
        "_backfill_legacy_entry", ".ptr_",
    )
    hits = [
        (rel, name)
        for rel, src in _sources()
        for name in gone
        if name in src
    ]
    assert hits == []
