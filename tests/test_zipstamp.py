"""Stamp-checked zipimport invalidation (matrixprofile_spark._zipstamp):
an unchanged archive is not re-read, a rewritten one is, and every
Python worker that imports the engine runs with the patch installed."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from matrixprofile_spark import _zipstamp

needs_eager_zipimport = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython >= 3.13 re-reads lazily")


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


@pytest.fixture
def patched(monkeypatch):
    """install() under monkeypatch, so the original method comes back."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    yield monkeypatch


@pytest.fixture
def reads(patched):
    """Archive paths passed to zipimport._read_directory, in call order."""
    seen = []
    real = zipimport._read_directory

    def counted(archive):
        seen.append(archive)
        return real(archive)

    patched.setattr(zipimport, "_read_directory", counted)
    return seen


@pytest.fixture
def archive(tmp_path, patched):
    """A zip on sys.path holding one module, imported once."""
    path = str(tmp_path / "probe.zip")
    _write_zip(path, {"_zipstamp_probe_a": "A = 1\n"})
    patched.syspath_prepend(path)
    import _zipstamp_probe_a  # noqa: F401

    yield path
    for name in ("_zipstamp_probe_a", "_zipstamp_probe_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)


@needs_eager_zipimport
def test_unchanged_archive_is_not_reread(archive, reads):
    assert _zipstamp.install()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(archive) == 0


@needs_eager_zipimport
def test_rewritten_archive_is_reread(archive, reads):
    assert _zipstamp.install()
    _write_zip(archive, {"_zipstamp_probe_a": "A = 1\n",
                         "_zipstamp_probe_b": "B = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    import _zipstamp_probe_b

    assert _zipstamp_probe_b.B == 2
    importlib.invalidate_caches()  # stamped again at that read
    assert reads.count(archive) == 1


@needs_eager_zipimport
def test_unreadable_archive_falls_back_to_reread(archive, reads):
    assert _zipstamp.install()
    imp = sys.path_importer_cache[archive]
    os.remove(archive)
    importlib.invalidate_caches()
    assert reads.count(archive) == 1 and imp._files == {}


def test_noop_on_lazy_zipimport(patched):
    before = zipimport.zipimporter.invalidate_caches
    patched.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert not _zipstamp.install()
    assert zipimport.zipimporter.invalidate_caches is before


@needs_eager_zipimport
def test_every_worker_task_runs_patched(spark):
    """Each of 8 tasks imports the engine in its worker (as every engine
    UDF's closure does) and finds the patch installed."""

    def probe(key, pdf):
        import os
        import zipimport

        import matrixprofile_spark  # noqa: F401
        from matrixprofile_spark import _zipstamp
        from pyspark import TaskContext

        return pd.DataFrame({
            "part": [TaskContext.get().partitionId()], "pid": [os.getpid()],
            "patched": [zipimport.zipimporter.invalidate_caches
                        is _zipstamp._invalidate_caches]})

    rows = (spark.range(64).repartition(8, "id").groupBy("id")
            .applyInPandas(probe, "part int, pid long, patched boolean")
            .collect())
    assert len({r["part"] for r in rows}) >= 4
    assert all(r["patched"] for r in rows), rows
