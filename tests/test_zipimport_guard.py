"""The zipimport re-read guard installed by ``pagerank_spark.session``."""

import importlib
import os
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

from pagerank_spark import session
from pagerank_spark.operators.pagerank import _load_vec

needs_guard = pytest.mark.skipif(
    not (3, 10) <= sys.version_info < (3, 13),
    reason="CPython 3.13+ re-reads zip archives lazily; the guard is inactive",
)


def _write_zip(path, value):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zguard_mod.py", f"VALUE = {value!r}\n")


@pytest.fixture
def zip_on_path(tmp_path):
    path = str(tmp_path / "zguard.zip")
    _write_zip(path, 1)
    sys.path.insert(0, path)
    yield path
    sys.path.remove(path)
    sys.path_importer_cache.pop(path, None)
    sys.modules.pop("zguard_mod", None)


def _import_value():
    sys.modules.pop("zguard_mod", None)
    return importlib.import_module("zguard_mod").VALUE


@needs_guard
def test_guard_rereads_changed_archive(zip_on_path):
    assert _import_value() == 1
    importlib.invalidate_caches()
    # different content and a different size, so the key changes even
    # where the mtime resolution would hide the rewrite
    _write_zip(zip_on_path, "a longer replacement value")
    importlib.invalidate_caches()
    assert _import_value() == "a longer replacement value"


@needs_guard
def test_guard_skips_unchanged_archive(zip_on_path, monkeypatch):
    assert _import_value() == 1
    importlib.invalidate_caches()  # first guarded call reads and keys it
    reads = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert zip_on_path not in reads
    assert _import_value() == 1


@needs_guard
def test_guard_installs_once():
    guarded = zipimport.zipimporter.invalidate_caches
    assert guarded.stat_guarded
    session._guard_zip_rereads()
    session._guard_zip_rereads()
    assert zipimport.zipimporter.invalidate_caches is guarded
    assert not getattr(guarded.__wrapped__, "stat_guarded", False)


@pytest.mark.parametrize("version", [(3, 9, 18), (3, 13, 0)])
def test_guard_inactive_outside_310_312(monkeypatch, version):
    unguarded = getattr(
        zipimport.zipimporter.invalidate_caches,
        "__wrapped__",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", unguarded)
    monkeypatch.setattr(sys, "version_info", version)
    session._guard_zip_rereads()
    assert zipimport.zipimporter.invalidate_caches is unguarded


def test_guard_installed_in_python_workers(spark):
    # the worker must install the guard itself, by importing the package
    # while unpickling a kernel that references an engine helper — the
    # driver's patch does not reach the worker processes
    def kernel(batches):
        assert callable(_load_vec)
        for _ in batches:
            pass
        method = zipimport.zipimporter.invalidate_caches
        yield pa.RecordBatch.from_pydict(
            {
                "pid": [os.getpid()],
                "guarded": [bool(getattr(method, "stat_guarded", False))],
                "active": [(3, 10) <= sys.version_info < (3, 13)],
            }
        )

    schema = "pid long, guarded boolean, active boolean"
    pids = spark.range(0, 4, 1, 4)
    pids.mapInArrow(kernel, schema).collect()  # warm-up job
    rows = pids.mapInArrow(kernel, schema).collect()
    assert len(rows) == 4
    assert all(r["guarded"] == r["active"] for r in rows)
