"""The SSTable source's stat-gated ``zipimporter`` invalidation.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
Python-worker task; ``sstable_datasource._stat_gate_zip_invalidation``
makes that skip re-reading zip archives that did not change. These
tests need no Spark: a temporary zip holding a module sits on
``sys.path``, as ``pyspark.zip`` does in a worker.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest
from pyspark import cloudpickle

from cassowary_spark.sources import sstable_datasource
from cassowary_spark.sources.sstable_datasource import _stat_gate_zip_invalidation

_ZI = zipimport.zipimporter


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in modules.items():
            zf.writestr(f"{name}.py", body)


@pytest.fixture
def zip_on_path(tmp_path):
    """A zip holding module ``zinv_a`` on sys.path, imported once, with
    ``zipimporter`` reset to its unwrapped state; everything (including
    any wrapper installed earlier in the session) is restored after."""
    saved = {n: _ZI.__dict__[n] for n in ("invalidate_caches", "_stat_gated") if n in _ZI.__dict__}
    original = getattr(saved["invalidate_caches"], "__wrapped__", saved["invalidate_caches"])
    _ZI.invalidate_caches = original
    if "_stat_gated" in _ZI.__dict__:
        del _ZI._stat_gated
    archive = str(tmp_path / "zinv.zip")
    _write_zip(archive, {"zinv_a": "VALUE = 'a'\n"})
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module("zinv_a").VALUE == "a"
        yield archive, original
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        for name in ("zinv_a", "zinv_b"):
            sys.modules.pop(name, None)
        if "_stat_gated" in _ZI.__dict__:
            del _ZI._stat_gated
        for name, value in saved.items():
            setattr(_ZI, name, value)


def _count_reads(monkeypatch) -> list[str]:
    """Record the archive path of every zip directory read."""
    reads: list[str] = []
    real = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_archive_is_not_reread(zip_on_path, monkeypatch):
    archive, _ = zip_on_path
    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert reads.count(archive) == 1  # unwrapped: every call re-reads

    _stat_gate_zip_invalidation()
    importlib.invalidate_caches()  # the importer's first read under the gate
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(archive) == 0
    assert importlib.import_module("zinv_a").VALUE == "a"


def test_rewritten_archive_is_reread(zip_on_path):
    archive, _ = zip_on_path
    _stat_gate_zip_invalidation()
    importlib.invalidate_caches()
    _write_zip(archive, {"zinv_a": "VALUE = 'a'\n", "zinv_b": "VALUE = 'b'\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zinv_b").VALUE == "b"


def test_one_wrapper_per_process(zip_on_path):
    _, original = zip_on_path
    _stat_gate_zip_invalidation()
    _stat_gate_zip_invalidation()
    assert _ZI.invalidate_caches.__wrapped__ is original
    # A by-value copy of the module (as a worker unpickles it) has fresh
    # globals; the guard on the class must still hold.
    was_by_value = "cassowary_spark.sources.sstable_datasource" in (
        cloudpickle.list_registry_pickle_by_value()
    )
    cloudpickle.register_pickle_by_value(sstable_datasource)
    try:
        shipped = cloudpickle.loads(cloudpickle.dumps(_stat_gate_zip_invalidation))
    finally:
        if not was_by_value:
            cloudpickle.unregister_pickle_by_value(sstable_datasource)
    assert shipped is not _stat_gate_zip_invalidation
    shipped()
    wrapper = _ZI.invalidate_caches
    assert wrapper is not original
    assert wrapper.__wrapped__ is original
    assert not hasattr(original, "__wrapped__")
