"""Structural guard on the streaming layer (Spark-free: parses source).

Every maintainer folds through ``streaming/fold.py``: it alone starts
``foreachBatch`` streams and takes the store lock, and table init comes
from it, never from ``operators/``. A new maintainer that copies the old
boilerplate fails here instead of drifting silently.

Every bucketed write lays its rows out through ``store.bucket_aligned``,
and ``fold.append_new`` stays one observed write: no pin, no count.

Every streaming parity certificate folds through
``streaming_parity._certify``, the one place its replay check lives.

The commit-marker protocol's writes (manifest row, driver-side rows,
commit marker) happen only inside ``streaming/commitlog.py``, and table
drops and renames only inside ``sources/store.py``.

File bytes enter Spark through ``sources/binaryfile.py``: its
``binary_files`` is the one batch ``binaryFile`` read and its ``map_files``
the one per-file Arrow loop of the file parsers.

The lexical pipeline is keyed: ``search.term_freqs`` is the one
(key, term) -> tf fold and ``retrieval._bm25_table_specs`` the one
renderer of the BM25 index layout, whatever the item granularity.
"""

from __future__ import annotations

import ast
import pathlib
import re

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
#: the registered streaming parity certificates
PARITY = PACKAGE / "operators" / "streaming_parity.py"
#: every module of the package
PACKAGE_MODULES = sorted(PACKAGE.rglob("*.py"))


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


def _calls_by_name(node: ast.AST) -> set[str]:
    return {
        n.func.id for n in ast.walk(node)
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Name)
    }


def test_parity_replay_rule_lives_in_certify():
    """The parity certificates' replay check is written once: the only
    ``raise`` in the module is inside ``_certify``."""
    tree = _parse(PARITY)
    inside = {id(n) for n in ast.walk(_function(tree, "_certify"))}
    raises = [n for n in ast.walk(tree) if isinstance(n, ast.Raise)]
    assert raises, "_certify lost its replay check"
    outside = [n.lineno for n in raises if id(n) not in inside]
    assert not outside, f"raise outside _certify (lines {outside})"


def test_every_parity_certificate_folds_through_certify():
    """Every registered certificate calls ``_certify``, directly or through
    a module helper that does."""
    tree = _parse(PARITY)
    functions = {
        n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)
    }
    certifying = {"_certify"}
    grew = True
    while grew:
        found = {
            name for name, fn in functions.items()
            if _calls_by_name(fn) & certifying
        }
        grew = not found <= certifying
        certifying |= found
    registered = [
        name for name, fn in functions.items()
        if any("register" in _calls_by_name(d) for d in fn.decorator_list)
    ]
    assert registered
    missing = [name for name in registered if name not in certifying]
    assert not missing, f"parities that bypass _certify: {missing}"


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


def _called_names(tree: ast.AST) -> list[tuple[str, int]]:
    """(callee name, line) of every call, by bare or attribute name."""
    out = []
    for n in ast.walk(tree):
        if isinstance(n, ast.Call):
            f = n.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", "")
            out.append((name, n.lineno))
    return out


def test_protocol_writes_live_in_commitlog():
    """The manifest row, the driver-side partial rows and the commit
    marker are written by ``commitlog.commit`` alone: a maintainer that
    publishes through its own copy of the protocol fails here."""
    writers = {"append_marker_row", "append_driver_rows", "record_attempt"}
    offenders = [
        f"{path.relative_to(PACKAGE)}:{line} {name}"
        for path in PACKAGE_MODULES
        if path != STREAMING / "commitlog.py"
        for name, line in _called_names(_parse(path))
        if name in writers
    ]
    assert not offenders, offenders


def _sql_strings(tree: ast.AST) -> list[ast.Constant]:
    """String constants that are not docstrings or comment-like bare
    expressions (f-string parts included)."""
    bare = {
        id(n.value) for n in ast.walk(tree)
        if isinstance(n, ast.Expr) and isinstance(n.value, ast.Constant)
    }
    return [
        n for n in ast.walk(tree)
        if isinstance(n, ast.Constant) and isinstance(n.value, str)
        and id(n) not in bare
    ]


def test_table_drops_and_renames_live_in_store():
    """``DROP TABLE`` and ``RENAME TO`` are spelled only in
    ``sources/store.py`` (``drop_table_and_dir``, the staged swap and its
    recovery): an inline drop with a local ``rmtree`` silently leaves the
    directory behind on an hdfs:// or s3a:// warehouse."""
    offenders = [
        f"{path.relative_to(PACKAGE)}:{n.lineno}"
        for path in PACKAGE_MODULES
        if path != PACKAGE / "sources" / "store.py"
        for n in _sql_strings(_parse(path))
        if "DROP TABLE" in n.value.upper() or "RENAME TO" in n.value.upper()
    ]
    assert not offenders, offenders


BINARYFILE = PACKAGE / "sources" / "binaryfile.py"
#: the modules whose tables parse file bytes
FILE_PARSERS = sorted((PACKAGE / "sources").glob("*.py")) + [
    PACKAGE / "operators" / "zonemap.py",
]


def _binary_file_reads(tree: ast.AST) -> list[tuple[int, bool]]:
    """(line, is a ``readStream``) of every ``.format("binaryFile")``."""
    return [
        (
            call.lineno,
            isinstance(call.func.value, ast.Attribute)
            and call.func.value.attr == "readStream",
        )
        for call in _method_calls(tree)
        if call.func.attr == "format"
        and call.args
        and isinstance(call.args[0], ast.Constant)
        and call.args[0].value == "binaryFile"
    ]


def _batch_loops(tree: ast.AST) -> list[int]:
    """Lines of every ``for ... in batches`` loop (a hand-written Arrow
    ``mapInPandas`` kernel)."""
    return [
        n.lineno for n in ast.walk(tree)
        if isinstance(n, ast.For)
        and isinstance(n.iter, ast.Name)
        and n.iter.id == "batches"
    ]


def test_file_bytes_enter_through_binary_files():
    """``binaryfile.binary_files`` is the one batch ``binaryFile`` read;
    the only other one allowed is the file stream in
    ``streaming/ingest.py``."""
    offenders = [
        f"{path.relative_to(PACKAGE)}:{line}"
        for path in PACKAGE_MODULES
        if path != BINARYFILE
        for line, stream in _binary_file_reads(_parse(path))
        if not (stream and path == STREAMING / "ingest.py")
    ]
    assert not offenders, f"read files with binary_files: {offenders}"
    fn = _function(_parse(BINARYFILE), "binary_files")
    assert len(_binary_file_reads(fn)) == 1
    assert len(_binary_file_reads(_parse(BINARYFILE))) == 1


def test_one_per_file_parse_loop():
    """``binaryfile.map_files`` is the one Arrow loop over file batches: a
    file parser brings a ``rows_fn``, not its own ``for pdf in batches``."""
    offenders = [
        f"{path.relative_to(PACKAGE)}:{line}"
        for path in FILE_PARSERS
        if path != BINARYFILE
        for line in _batch_loops(_parse(path))
    ]
    assert not offenders, f"parse files with map_files: {offenders}"
    tree = _parse(BINARYFILE)
    assert _batch_loops(tree) == _batch_loops(_function(tree, "map_files"))
    assert len(_batch_loops(tree)) == 1


SEARCH = PACKAGE / "operators" / "search.py"
RETRIEVAL = PACKAGE / "operators" / "retrieval.py"


def _tf_folds(tree: ast.AST) -> list[tuple[int, ast.Call]]:
    """(line, node) of every ``.groupBy(<key>..., "term")`` followed by an
    ``.agg`` that counts into ``tf`` — a (key, term) -> tf fold."""
    out = []
    for call in _method_calls(tree):
        grouped = call.func.value
        if not (
            call.func.attr == "agg"
            and isinstance(grouped, ast.Call)
            and isinstance(grouped.func, ast.Attribute)
            and grouped.func.attr == "groupBy"
            and len(grouped.args) >= 2
            and any(
                isinstance(a, ast.Constant) and a.value == "term"
                for a in grouped.args
            )
        ):
            continue
        aggs = [n for a in call.args for n in ast.walk(a)]
        counts = any(
            name == "count" for a in call.args for name, _ in _called_names(a)
        )
        into_tf = any(
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "alias"
            and n.args
            and isinstance(n.args[0], ast.Constant)
            and n.args[0].value == "tf"
            for n in aggs
        )
        if counts and into_tf:
            out.append((call.lineno, call))
    return sorted(out, key=lambda pair: pair[0])


def _inside(tree: ast.AST, name: str) -> set[int]:
    """ids of the nodes of the module's function ``name`` (none if the
    module has no such function)."""
    return {
        id(n) for fn in ast.walk(tree)
        if isinstance(fn, ast.FunctionDef) and fn.name == name
        for n in ast.walk(fn)
    }


def test_one_term_frequency_fold():
    """``search.term_freqs`` is the one (key, term) -> tf group-count: a
    lexical step brings an item frame and its keys, not its own explode +
    ``groupBy(key, "term").count()``."""
    offenders, kept = [], []
    for path in PACKAGE_MODULES:
        tree = _parse(path)
        allowed = _inside(tree, "term_freqs") if path == SEARCH else set()
        for line, node in _tf_folds(tree):
            where = f"{path.relative_to(PACKAGE)}:{line}"
            (kept if id(node) in allowed else offenders).append(where)
    assert not offenders, f"fold through search.term_freqs: {offenders}"
    assert len(kept) == 1, kept


def test_bm25_table_specs_render_in_one_function():
    """Every BM25 index schema (postings, registry, stats partials) is
    rendered by ``retrieval._bm25_table_specs`` from the item keys, so no
    granularity keeps its own copy of the layout."""
    spec = re.compile(r"\bdl(_sum)? bigint")
    offenders, kept = [], []
    for path in PACKAGE_MODULES:
        tree = _parse(path)
        allowed = (
            _inside(tree, "_bm25_table_specs") if path == RETRIEVAL else set()
        )
        for n in _sql_strings(tree):
            if spec.search(n.value):
                where = f"{path.relative_to(PACKAGE)}:{n.lineno}"
                (kept if id(n) in allowed else offenders).append(where)
    assert not offenders, f"render BM25 specs in _bm25_table_specs: {offenders}"
    assert len(kept) == 3, kept
