"""pyogrio_spark._daemon: zipimporter.invalidate_caches re-reads an
archive's directory only when the archive changed on disk."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from pyogrio_spark import _daemon


@pytest.fixture
def counted_reads(monkeypatch):
    """The archives whose central directory zipimport parses, in order."""
    reads = []
    original = zipimport._read_directory

    def read_directory(archive):
        reads.append(archive)
        return original(archive)

    monkeypatch.setattr(zipimport, "_read_directory", read_directory)
    monkeypatch.setattr(_daemon, "_read_at", {})
    return reads


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as z:
        for name, body in members.items():
            z.writestr(name, body)


def test_unchanged_archive_is_read_once(tmp_path, counted_reads):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"zd_first.py": "X = 1\n"})
    importers = [zipimport.zipimporter(archive), zipimport.zipimporter(archive)]
    assert counted_reads == [archive]  # the constructor's read
    for _ in range(3):
        for imp in importers:
            _daemon.invalidate_caches(imp)
    assert counted_reads == [archive, archive]  # one re-read, then none
    assert all(imp._files is zipimport._zip_directory_cache[archive] for imp in importers)
    assert importers[1].find_spec("zd_first") is not None


def test_archive_rewritten_in_place_is_reread(tmp_path, counted_reads, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"zd_old.py": "X = 1\n"})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", _daemon.invalidate_caches)
    monkeypatch.syspath_prepend(archive)
    importlib.invalidate_caches()
    assert importlib.import_module("zd_old").X == 1
    importlib.invalidate_caches()
    n = len(counted_reads)
    importlib.invalidate_caches()
    assert archive not in counted_reads[n:]  # unchanged: not re-read

    # rewritten in place (mode "w" truncates the same inode), one member more
    _write_zip(archive, {"zd_old.py": "X = 1\n", "zd_new.py": "Y = 2\n"})
    importlib.invalidate_caches()
    try:
        assert counted_reads[n:].count(archive) == 1
        assert importlib.import_module("zd_new").Y == 2
    finally:
        sys.modules.pop("zd_old", None)
        sys.modules.pop("zd_new", None)
        sys.path_importer_cache.pop(archive, None)


def test_missing_archive_goes_through_original(tmp_path, counted_reads):
    archive = tmp_path / "lib.zip"
    _write_zip(str(archive), {"zd_gone.py": "X = 1\n"})
    imp = zipimport.zipimporter(str(archive))
    _daemon.invalidate_caches(imp)
    archive.unlink()
    _daemon.invalidate_caches(imp)
    assert imp._files == {}
    assert str(archive) not in zipimport._zip_directory_cache
    assert str(archive) not in _daemon._read_at
