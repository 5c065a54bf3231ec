"""PySpark worker daemon that keeps zip directories across tasks.

``build_session`` sets ``spark.python.daemon.module`` to this module,
so Spark launches it (``python -m pdf_parser_spark.spark.daemon``) in
place of ``pyspark.daemon``; it forks the Python workers exactly as
``pyspark.daemon.manager`` does.

Why: workers import pyspark and py4j from zip archives, and every task
starts with ``pyspark.worker_util.setup_spark_files``, which calls
``importlib.invalidate_caches()``.  On CPython 3.11 that makes every
cached ``zipimporter`` (one per package directory imported from a zip,
16 for pyspark.zip) re-read its archive's whole central directory:
100-220 ms of CPU per task whatever the UDF does.  The daemon wraps
``zipimporter.invalidate_caches`` so that it re-reads an archive only
when the archive's ``(st_mtime_ns, st_size)`` changed since it was last
read; an unchanged archive keeps its directory.  A zip that did change,
such as a re-shipped ``--py-files`` archive, is still re-read.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size) when its directory was last read
_read_stamps: dict[str, tuple[int, int]] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Adopt the cached directory if the archive is unchanged since it
    was last read; otherwise re-read it (``zipimporter``'s own
    behaviour) and stamp the read."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _read_stamps.get(self.archive) == stamp:
        self._files = files
        return
    _reread(self)
    if stamp is not None:
        _read_stamps[self.archive] = stamp


def main() -> None:
    import importlib

    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # read each archive once here, so the forked workers start stamped
    importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    # re-import under the package name, so the patched method reports
    # this module rather than ``__main__``
    from pdf_parser_spark.spark.daemon import main as _main

    _main()
