"""Re-read a zip archive's directory on ``importlib.invalidate_caches()``
only when the archive changed on disk.

Spark's Python worker calls ``importlib.invalidate_caches()`` at the start
of every task and every DataSource planner call
(``pyspark.worker_util.setup_spark_files``). Before CPython 3.13,
``zipimport.zipimporter.invalidate_caches`` answers by eagerly re-reading
the archive's central directory. A worker holds ~16 importers rooted in
``pyspark.zip`` (~27k entries), so every call spent 0.2-0.3 s of CPU
re-reading an archive that had not changed. CPython 3.13 made the re-read
lazy.

The replacement keeps, per archive, the ``(st_mtime_ns, st_size)`` stamp
taken just before its last re-read and the directory that read produced.
When the stamp still matches, an importer adopts that directory instead of
reading the archive again; when it differs, or the archive cannot be
stat'ed, the original method runs, so an archive rewritten in place (a
``SparkContext.addPyFile`` of a new version) is still picked up.

Importing the package installs it (``__init__.py`` imports this module
first), which reaches every worker that matters: DataSource planner
workers unpickle ``MysqldumpDataSource`` by reference, and convert, scan
and export tasks and package UDFs import the package too. Delete this
module on CPython >= 3.13, or once Spark stops invalidating import caches
on every call.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (stamp before the last re-read, directory it produced)
_READS: dict[str, tuple[tuple[int, int], dict]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive only
    when its stamp changed since the last re-read."""
    stamp = _stamp(self.archive)
    last = _READS.get(self.archive)
    if last is not None and last[0] == stamp:
        self._files = last[1]
        return
    _reread(self)
    if stamp is not None:
        _READS[self.archive] = (stamp, self._files)


_reread = zipimport.zipimporter.invalidate_caches
if sys.version_info < (3, 13):
    zipimport.zipimporter.invalidate_caches = invalidate_caches
