"""The engine daemon's ``zipimporter.invalidate_caches``: an archive's
directory is re-read only when the archive changed."""

from __future__ import annotations

import sys
import zipfile
import zipimport

import pytest

from ws_to_kafka_spark import worker_daemon

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="3.13's zipimporter.invalidate_caches is already lazy",
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def reads(monkeypatch):
    """Every archive path ``zipimport`` reads a directory from."""
    paths = []
    read = zipimport._read_directory

    def counting(archive):
        paths.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return paths


def test_importing_the_module_patches_nothing():
    assert zipimport.zipimporter.invalidate_caches is not (
        worker_daemon.invalidate_caches
    )


def test_archive_is_reread_only_when_it_changed(tmp_path, reads):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, ["alpha"])
    importer = zipimport.zipimporter(str(archive))
    reads.clear()

    worker_daemon.invalidate_caches(importer)  # the first call reads
    worker_daemon.invalidate_caches(importer)  # unchanged: no read
    assert reads == [str(archive)]

    _write_zip(archive, ["alpha", "beta"])
    worker_daemon.invalidate_caches(importer)
    assert len(reads) == 2
    assert importer.find_spec("beta") is not None


def test_missing_archive_keeps_the_stock_behaviour(tmp_path, reads):
    archive = tmp_path / "gone.zip"
    _write_zip(archive, ["alpha"])
    importer = zipimport.zipimporter(str(archive))
    worker_daemon.invalidate_caches(importer)
    away = archive.rename(tmp_path / "away.zip")
    reads.clear()

    worker_daemon.invalidate_caches(importer)
    assert reads == [str(archive)]
    assert importer.find_spec("alpha") is None
    assert str(archive) not in zipimport._zip_directory_cache

    # put back by a rename, the archive stats as at its last read, and
    # is still read again
    away.rename(archive)
    worker_daemon.invalidate_caches(importer)
    assert len(reads) == 2
    assert importer.find_spec("alpha") is not None
