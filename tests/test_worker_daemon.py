"""The worker daemon's zip-directory cache (pdf_parser_spark.spark.daemon):
``importlib.invalidate_caches()`` re-reads a zip on sys.path only when
the archive changed since it was last read."""

import importlib
import os
import sys
import zipfile
import zipimport

from pdf_parser_spark.spark import daemon


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in modules.items():
            zf.writestr(f"{name}.py", body)


def test_unchanged_zip_is_not_reread_and_changed_zip_is(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"_zipdaemon_a": "VALUE = 'a'\n"})
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", daemon.invalidate_caches)
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("_zipdaemon_a").VALUE == "a"
        importlib.invalidate_caches()  # first call stamps the archive
        before = len(reads)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert len(reads) == before  # unchanged archive: no re-read

        _write_zip(archive, {"_zipdaemon_a": "VALUE = 'a'\n",
                             "_zipdaemon_b": "VALUE = 'b'\n"})
        st = os.stat(archive)
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
        importlib.invalidate_caches()
        assert len(reads) == before + 1  # changed archive: read once
        assert importlib.import_module("_zipdaemon_b").VALUE == "b"
    finally:
        sys.modules.pop("_zipdaemon_a", None)
        sys.modules.pop("_zipdaemon_b", None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
