"""Skip redundant zip-directory re-reads in ``importlib.invalidate_caches``.

PySpark's worker set-up (``pyspark.worker_util.setup_spark_files``) calls
``importlib.invalidate_caches()`` on every Python-worker call. On CPython
< 3.12 that makes every ``zipimporter`` re-read its archive's central
directory; a worker holds ~15 importers over ``pyspark.zip`` (1,328
entries) and py4j's zip, which cost a median 136 ms per call on a 4-vCPU
host, often more than the call's own work. CPython 3.12 made the re-read
lazy, so there this module patches nothing.

``install()`` wraps ``zipimporter.invalidate_caches`` so an archive is
re-read only when its ``(st_ino, st_size, st_mtime_ns)`` changed since this
process last read it; otherwise the importer is rebound to the shared
``zipimport._zip_directory_cache`` entry. Nothing is seeded at install
time: the first call per archive in a process re-reads it, so a zip that
changed before then is always seen.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

# archive path -> (stat stamp taken BEFORE the read, directory dict read).
# Process-wide, like zipimport's own _zip_directory_cache it shadows. The
# pair is stored in one assignment, so a racing re-read can only leave a
# stamp older than its directory, which forces another re-read.
_read_at: dict = {}


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def install() -> None:
    """Patch ``zipimport.zipimporter.invalidate_caches``; idempotent, and a
    no-op on CPython >= 3.12 or when the zipimport internals it relies on
    are missing."""
    if sys.version_info >= (3, 12):
        return
    cache = getattr(zipimport, "_zip_directory_cache", None)
    original = getattr(zipimport.zipimporter, "invalidate_caches", None)
    if not isinstance(cache, dict) or not callable(original):
        return
    if getattr(original, "_stat_checked", False):
        return

    @functools.wraps(original)
    def invalidate_caches(self):
        archive = self.archive
        stamp = _stamp(archive)
        seen = _read_at.get(archive)
        if (
            stamp is not None
            and seen is not None
            and seen[0] == stamp
            and cache.get(archive) is seen[1]
        ):
            self._files = seen[1]
            return
        original(self)
        files = cache.get(archive)
        if stamp is not None and files is not None and files is self._files:
            _read_at[archive] = (stamp, files)
        else:
            _read_at.pop(archive, None)

    invalidate_caches._stat_checked = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
