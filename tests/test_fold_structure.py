"""Structural guard on the streaming layer (Spark-free: parses source).

Every maintainer folds through ``streaming/fold.py``: it alone starts
``foreachBatch`` streams and takes the store lock, and table init comes
from it, never from ``operators/``. A new maintainer that copies the old
boilerplate fails here instead of drifting silently.
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
