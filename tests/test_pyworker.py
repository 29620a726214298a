"""Zip-import directories are re-read only when the archive changed
(``mehari_spark/pyworker.py``), on the driver and inside Python workers."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from mehari_spark import pyworker

PATCHED = sys.version_info < (3, 13)
needs_patch = pytest.mark.skipif(not PATCHED, reason="stdlib zipimport kept on 3.13+")


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding module ``zpw_a``, on ``sys.path`` and imported once."""
    path = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zpw_a.py", "VALUE = 'a'\n")
    monkeypatch.syspath_prepend(path)
    for m in ("zpw_a", "zpw_b"):
        monkeypatch.delitem(sys.modules, m, raising=False)
    importlib.import_module("zpw_a")
    yield path
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


@needs_patch
def test_unchanged_archive_is_not_reread(zip_on_path):
    importlib.invalidate_caches()
    files = zipimport._zip_directory_cache[zip_on_path]
    for _ in range(3):
        importlib.invalidate_caches()
        assert zipimport._zip_directory_cache[zip_on_path] is files


@needs_patch
def test_rewritten_archive_is_reread(zip_on_path):
    importlib.invalidate_caches()
    files = zipimport._zip_directory_cache[zip_on_path]
    with zipfile.ZipFile(zip_on_path, "w") as z:
        z.writestr("zpw_a.py", "VALUE = 'a'\n")
        z.writestr("zpw_b.py", "VALUE = 'b'\n")
    importlib.invalidate_caches()
    assert zipimport._zip_directory_cache[zip_on_path] is not files
    assert importlib.import_module("zpw_b").VALUE == "b"


def test_stdlib_method_kept_from_313(monkeypatch):
    stdlib = pyworker._stdlib_invalidate
    try:
        zipimport.zipimporter.invalidate_caches = stdlib
        monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
        importlib.reload(pyworker)
        assert zipimport.zipimporter.invalidate_caches is stdlib
    finally:
        monkeypatch.undo()
        zipimport.zipimporter.invalidate_caches = stdlib
        importlib.reload(pyworker)
    assert (zipimport.zipimporter.invalidate_caches is not stdlib) == PATCHED


def _report_method(batches):
    import zipimport

    import pyarrow as pa

    import mehari_spark  # noqa: F401  (what unpickling an engine kernel does)

    fn = zipimport.zipimporter.invalidate_caches
    for _ in batches:
        pass
    yield pa.RecordBatch.from_pylist(
        [{"method": f"{fn.__module__}.{fn.__qualname__}"}]
    )


def test_worker_reports_patched_method(spark):
    got = {
        r.method
        for r in spark.range(4, numPartitions=2)
        .mapInArrow(_report_method, "method string")
        .collect()
    }
    want = (
        "mehari_spark.pyworker._invalidate_if_changed"
        if PATCHED
        else "zipimport.zipimporter.invalidate_caches"
    )
    assert got == {want}
