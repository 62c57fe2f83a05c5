"""Keep ``importlib.invalidate_caches()`` from re-reading unchanged zip archives.

PySpark's Python worker calls ``importlib.invalidate_caches()`` at the start
of every task (``worker_util.setup_spark_files``).  Before CPython 3.13 that
makes every ``zipimporter`` re-read its archive's whole central directory;
a worker holds about 16 importers into ``pyspark.zip`` (1,300+ entries), so
each task paid ~0.25 CPU-s (4-vCPU x86 VM, CPython 3.11) before any row
was processed.  CPython 3.13 made ``zipimporter.invalidate_caches`` lazy;
this module gives older interpreters the same effect.

The replacement re-reads only when the archive's ``(st_ino, st_size,
st_mtime_ns, st_ctime_ns)`` differs from what it was just before the last
read, or when ``zipimport._zip_directory_cache`` no longer holds the
archive.  A zip that is rewritten (a re-shipped ``--py-files`` archive,
say) is therefore still re-read: replacing it by rename changes the inode,
and writing it in place changes the ctime, which, unlike the mtime, no
copy or unzip tool can set back.  Only a rewrite that lands within one
ctime tick of the last read, keeping the size, could go unseen.  Importing the package
installs it, so every reused worker that unpickles one of the package's
UDFs skips the re-read from its second task on.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (st_ino, st_size, st_mtime_ns, st_ctime_ns), stat-ed just
# before its last read
_stat_at_read: dict[str, tuple[int, int, int, int] | None] = {}


def _install() -> None:
    original = zipimport.zipimporter.invalidate_caches
    if original.__module__ == __name__:
        return

    def invalidate_caches(self):
        """Re-read the archive's directory only if the file changed."""
        try:
            st = os.stat(self.archive)
            key = (st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns)
        except OSError:
            key = None
        unchanged = key is not None and _stat_at_read.get(self.archive) == key
        files = zipimport._zip_directory_cache.get(self.archive)
        if unchanged and files is not None:
            self._files = files
            return
        # stat BEFORE the read: a rewrite racing the read then leaves a
        # stale key behind, which forces one more read, never one too few
        original(self)
        _stat_at_read[self.archive] = key

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if sys.version_info < (3, 13):
    _install()
