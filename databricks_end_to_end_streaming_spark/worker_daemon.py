"""PySpark worker daemon that re-reads a zip archive only when it changed.

Every Python task runs ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython 3.11 that makes
each ``zipimporter`` on the path re-read its archive's directory —
``pyspark.zip`` has ~1.3k entries and ~16 importers point into it —
so a task that does nothing spends most of its time there. This daemon
swaps in the lazy behaviour later CPython releases adopted: an archive
is re-read only when its ``(st_mtime_ns, st_size)`` stamp changed, so
a rewritten or newly added archive (``addPyFile``) is still picked up.
Launched via ``spark.python.daemon.module`` (see ``session.get_spark``).
"""

from __future__ import annotations

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive path -> (stamp the directory was read at, that directory)
_seen: dict[str, tuple[tuple[int, int] | None, dict]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    stamp = _stamp(self.archive)
    seen = _seen.get(self.archive)
    if stamp is not None and seen is not None and seen[0] == stamp:
        self._files = seen[1]
        return
    _reread(self)
    _seen[self.archive] = (stamp, self._files)


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` in this process and read
    each archive already on the path once, so workers forked afterwards
    start with every stamp known."""
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()


if __name__ == "__main__":
    from pyspark import daemon

    install()
    daemon.manager()
