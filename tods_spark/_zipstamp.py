"""Skip the per-task zip-directory re-read of Python < 3.12 workers.

At the start of every task pyspark's worker calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``),
so that files shipped with ``addPyFile`` since the last task become
importable. The call reaches every ``zipimport.zipimporter`` in
``sys.path_importer_cache``. Before CPython 3.12,
``zipimporter.invalidate_caches`` re-reads the whole central directory of
its archive, eagerly, every time. A warm worker holds one importer per
package directory it has imported from ``pyspark.zip`` (16 over the
archive's 1,328 entries), so each task paid 0.2-0.3 CPU-s of
``zipimport._read_directory`` before any UDF code ran (Python 3.11.7, a
4-CPU x86-64 host). CPython 3.12 made the method drop the cached directory
and re-read it lazily, once, on the next lookup (gh-103200); there this
module does nothing.

On Python < 3.12, ``install()`` replaces the method with one that keeps a
stamp ``(st_ino, st_size, st_mtime_ns)`` of the archive as it was at the
last read in this process, one stamp per archive path, shared by all of its
importers. The archive is re-read only when its stamp differs; otherwise
the importer is pointed back at the shared
``zipimport._zip_directory_cache`` entry. The first call per archive has
no stamp and reads once.

Why a stamp and not a no-op: the re-read is what keeps zip imports right
when an archive is rewritten in place. A zip re-shipped under the same
name keeps its path but moves its members, and reading through the old
directory returns wrong bytes or fails. With the stamp that case is still
a re-read, for the cost of one ``stat`` per importer per task. Like the
mtime check of the stdlib's ``FileFinder``, a same-size rewrite within the
file system's timestamp granularity goes unseen.

Workers import ``tods_spark`` when they unpickle one of its UDFs, so a
reused worker runs the stamped method from its second task on.
"""

from __future__ import annotations

import os
import sys
import zipimport

STDLIB_INVALIDATE_CACHES = zipimport.zipimporter.invalidate_caches

# archive path -> stamp of the archive at its last directory read
_STAMPS: dict[str, tuple[int, int, int]] = {}


def _stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def _stamped_invalidate_caches(self) -> None:
    """Re-read the archive's directory only if the archive has changed."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None \
            and _STAMPS.get(self.archive) == stamp:
        self._files = files
        return
    # stat before the read: a rewrite racing the read leaves an old stamp,
    # so the next call reads again
    _STAMPS.pop(self.archive, None)
    STDLIB_INVALIDATE_CACHES(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _STAMPS[self.archive] = stamp


def install() -> None:
    """Install the stamped method on Python < 3.12; a no-op on 3.12+."""
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = _stamped_invalidate_caches
