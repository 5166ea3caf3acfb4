"""Structural guard on the streaming layer (Spark-free: parses source).

Every maintainer folds through ``streaming/fold.py``: it alone starts
``foreachBatch`` streams and takes the store lock, and table init comes
from it, never from ``operators/``. A new maintainer that copies the old
boilerplate fails here instead of drifting silently.

Every bucketed write lays its rows out through ``store.bucket_aligned``,
and ``fold.append_new`` stays one observed write: no pin, no count.
"""

from __future__ import annotations

import ast
import pathlib

import pytest

STREAMING = (
    pathlib.Path(__file__).resolve().parent.parent
    / "columnar_aware_dedup_spark"
    / "streaming"
)
MODULES = sorted(p for p in STREAMING.glob("*.py") if p.name != "fold.py")
PACKAGE = STREAMING.parent
#: the modules that write bucketed tables
BUCKETED_WRITERS = sorted(STREAMING.glob("*.py")) + [
    PACKAGE / "sources" / "store.py",
    PACKAGE / "operators" / "search.py",
    PACKAGE / "operators" / "retrieval.py",
]


def _names(tree: ast.AST) -> set[str]:
    """Every identifier and attribute name the module mentions."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        elif isinstance(node, ast.alias):
            out.add(node.name.rsplit(".", 1)[-1])
    return out


def _operator_init_imports(tree: ast.AST) -> list[str]:
    """Table-init helpers imported from ``operators/``."""
    return [
        f"{node.module}.{alias.name}"
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom)
        and ".operators" in f".{node.module or ''}"
        for alias in node.names
        if alias.name == "_init_catalog_tables"
        or alias.name.startswith("init_")
    ]


def test_fold_module_exists():
    assert (STREAMING / "fold.py").is_file()
    assert MODULES, "no streaming modules found"


@pytest.mark.parametrize("path", MODULES, ids=lambda p: p.name)
def test_maintainer_folds_through_fold_module(path):
    tree = ast.parse(path.read_text(), filename=str(path))
    names = _names(tree)
    assert "foreachBatch" not in names, "start streams with fold.start"
    assert "store_lock" not in names, "take the lock with fold.locked"
    assert not _operator_init_imports(tree), "init tables with fold.init_tables"


def _parse(path: pathlib.Path) -> ast.AST:
    return ast.parse(path.read_text(), filename=str(path))


def _function(tree: ast.AST, name: str) -> ast.FunctionDef:
    (fn,) = (
        n for n in ast.walk(tree)
        if isinstance(n, ast.FunctionDef) and n.name == name
    )
    return fn


def _method_calls(tree: ast.AST) -> list[ast.Call]:
    return [
        n for n in ast.walk(tree)
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
    ]


@pytest.mark.parametrize(
    "path", BUCKETED_WRITERS, ids=lambda p: f"{p.parent.name}/{p.name}"
)
def test_bucket_count_layouts_go_through_helper(path):
    """A ``repartition`` given a partition count (its first argument is
    not a column name) is a hand-rolled bucket layout; only
    ``store.bucket_aligned`` may write one."""
    tree = _parse(path)
    allowed = set()
    if path.name == "store.py":
        allowed = {id(n) for n in ast.walk(_function(tree, "bucket_aligned"))}
    counted = [
        call.lineno
        for call in _method_calls(tree)
        if call.func.attr == "repartition"
        and call.args
        and not (
            isinstance(call.args[0], ast.Constant)
            and isinstance(call.args[0].value, str)
        )
        and id(call) not in allowed
    ]
    assert not counted, f"use store.bucket_aligned (lines {counted})"


def test_append_new_is_one_observed_write():
    """``fold.append_new`` counts its rows with an observation on the
    insert: a pin or a separate ``count()`` action is a job per merge."""
    fn = _function(_parse(STREAMING / "fold.py"), "append_new")
    extra = [
        f"{call.func.attr} (line {call.lineno})"
        for call in _method_calls(fn)
        if call.func.attr in {"localCheckpoint", "checkpoint", "persist", "cache"}
        or (call.func.attr == "count" and not call.args)
    ]
    assert not extra, extra
    assert "observe" in {c.func.attr for c in _method_calls(fn)}
