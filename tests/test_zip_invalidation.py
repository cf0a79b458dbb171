"""Spark-free test of sparklog's stat-gated ``zipimporter.invalidate_caches``:
an unchanged archive's index is not re-read on every invalidation, and a
changed archive still is."""

import importlib
import sys
import zipfile
import zipimport

import sparklog


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["zmod_a"])
    monkeypatch.syspath_prepend(archive)
    reads = []
    read_directory = zipimport._read_directory

    def counted(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    try:
        assert importlib.import_module("zmod_a").NAME == "zmod_a"
        monkeypatch.setattr(zipimport, "_read_directory", counted)
        importlib.invalidate_caches()
        assert len(reads) == 1          # the importer's first call reads
        importlib.invalidate_caches()
        assert len(reads) == 1          # unchanged archive: nothing read

        _write_zip(archive, ["zmod_a", "zmod_b"])
        importlib.invalidate_caches()
        assert len(reads) == 2          # changed archive: read once
        assert importlib.import_module("zmod_b").NAME == "zmod_b"
        importlib.invalidate_caches()
        assert len(reads) == 2
    finally:
        for name in ("zmod_a", "zmod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)

    # installing again does not wrap the wrapper
    gated = zipimport.zipimporter.invalidate_caches
    sparklog._stat_gated_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is gated
