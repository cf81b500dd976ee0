"""``loggie_spark.zipcache``: ``importlib.invalidate_caches()`` re-reads
a zip archive on ``sys.path`` only when the archive changed. No Spark."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

import loggie_spark  # noqa: F401  (installs the stat-gated re-read)


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="zipimport reads lazily from 3.13")
def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zc_one.py", "X = 1\n")
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zc_one").X == 1
        importlib.invalidate_caches()  # the first call per archive reads it

        reads = []
        read = zipimport._read_directory

        def counted(path):
            reads.append(path)
            return read(path)

        monkeypatch.setattr(zipimport, "_read_directory", counted)
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads.count(archive) == 0

        with zipfile.ZipFile(archive, "w") as z:  # rewritten in place
            z.writestr("zc_one.py", "X = 1\n")
            z.writestr("zc_two.py", "Y = 2\n")
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.import_module("zc_two").Y == 2
    finally:
        for name in ("zc_one", "zc_two"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
