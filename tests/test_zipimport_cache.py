"""The mtime-checked zipimport cache (``zipimport_cache``).

The first three tests are Spark-free: they put a zip built under
``tmp_path`` on ``sys.path`` and count ``zipimport._read_directory`` calls
on that archive. The last one checks that Python workers get the rule.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

import columnar_aware_dedup_spark.zipimport_cache  # noqa: F401

patched = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="Python 3.13 no longer re-reads"
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def reads(monkeypatch):
    """Archive paths passed to ``zipimport._read_directory``, in order."""
    seen: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


@patched
def test_invalidate_rereads_only_a_changed_archive(tmp_path, monkeypatch, reads):
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, {"_zc_probe_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("_zc_probe_a", "_zc_probe_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("_zc_probe_a").X == 1
    reads.clear()

    importlib.invalidate_caches()  # an importer with no stamp reads once
    assert reads.count(archive) == 1
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads.count(archive) == 1

    # a second module changes the archive's size: the next call re-reads
    _write_zip(archive, {"_zc_probe_a": "X = 1\n", "_zc_probe_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 2
    assert importlib.import_module("_zc_probe_b").Y == 2
    importlib.invalidate_caches()
    assert reads.count(archive) == 2


@patched
def test_vanished_archive_empties_the_importer(tmp_path):
    archive = tmp_path / "gone.zip"
    _write_zip(archive, {"_zc_probe_c": "Z = 3\n"})
    importer = zipimport.zipimporter(str(archive))
    importer.invalidate_caches()
    assert importer._files
    archive.unlink()
    importer.invalidate_caches()
    assert importer._files == {}


def test_stdlib_untouched_from_python_3_13():
    method = zipimport.zipimporter.invalidate_caches
    expected = "zipimport" if sys.version_info >= (3, 13) else (
        "columnar_aware_dedup_spark.zipimport_cache"
    )
    assert method.__module__ == expected


def _rereads_per_task(batches):
    import pandas as pd

    import columnar_aware_dedup_spark  # noqa: F401

    # a worker that first imported the engine in this task has unstamped
    # importers; one call stamps them, the measured call must not read
    importlib.invalidate_caches()
    real, calls = zipimport._read_directory, []
    zipimport._read_directory = lambda a: calls.append(a) or real(a)
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = real
    for _ in batches:
        pass
    yield pd.DataFrame({"reads": [len(calls)]})


@patched
def test_python_workers_do_not_reread_archives(spark):
    """Every Python worker that imports the engine keeps its archives'
    directories across ``importlib.invalidate_caches()``. Without the rule
    the measured call re-reads each zip on the worker's ``sys.path``
    (pyspark.zip and py4j at least)."""
    df = spark.range(0, 1000, numPartitions=4)
    got = df.mapInPandas(_rereads_per_task, "reads long").collect()
    assert [r.reads for r in got] == [0, 0, 0, 0]
