"""The worker daemon's zip invalidation (proj_spark/spark/daemon.py)
re-reads an archive's directory only when the archive has changed.
Pure Python: no Spark session."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

from proj_spark.spark import daemon


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_install_rereads_a_zip_only_when_it_changed(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["zdmod_a"])
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.syspath_prepend(archive)
    original = zipimport.zipimporter.invalidate_caches
    try:
        assert importlib.import_module("zdmod_a").NAME == "zdmod_a"
        assert len(reads) == 1
        if sys.version_info < (3, 13):
            importlib.invalidate_caches()   # stock 3.11: always re-reads
            assert len(reads) == 2

        assert daemon.install() is original
        importlib.invalidate_caches()       # first call takes the stamp
        n = len(reads)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert len(reads) == n              # unchanged: not re-read

        st = os.stat(archive)
        _write_zip(archive, ["zdmod_a", "zdmod_b"])
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        assert os.path.getsize(archive) != st.st_size
        importlib.invalidate_caches()
        assert len(reads) == n + 1          # changed: re-read once
        assert importlib.import_module("zdmod_b").NAME == "zdmod_b"

        os.remove(archive)                  # a failed stat always re-reads
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert len(reads) == n + 3
    finally:
        zipimport.zipimporter.invalidate_caches = original
        for name in ("zdmod_a", "zdmod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
    assert zipimport.zipimporter.invalidate_caches is original
