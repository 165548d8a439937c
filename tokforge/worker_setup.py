"""Python worker process setup, run once per process by ``import tokforge``.

Every Spark Python worker that unpickles a tokforge function imports the
``tokforge`` package first, so this module runs in each worker before its
first row, whichever tokforge module the function lives in.  It does two
things.

Allocator.  Virtualized executors often service first-touch page faults
very slowly, so glibc's default behavior — mmap every large buffer and
return it on free — makes each numpy temporary pay the cold-fault cost
again.  Keeping large allocations on the heap (M_MMAP_MAX=0) and never
trimming (M_TRIM_THRESHOLD=max) means pages fault once per worker and stay
warm for the lifetime of the executor — exactly the long-running-executor
profile of a production cluster.

Import caches.  PySpark's worker calls ``importlib.invalidate_caches()`` at
the start of every task (``worker_util.setup_spark_files``).  CPython's
``zipimporter.invalidate_caches`` re-reads the archive's whole directory on
the spot, and a warm worker holds 16 importers over pyspark.zip, the
spark-core jar and the py4j zip: 26,672 directory entries, 140–280 ms of
CPU per task (CPython 3.11 on a 4-cpu x86-64 VM).  The wrapper below
re-reads only when the archive's ``(st_mtime_ns, st_size, st_ino)``
differs from the one this importer saw at its last re-read.  The stat is
kept per importer, because several importers share one archive and each
must re-read when it changes.  An importer's first call re-reads (the stat
behind its constructor's read is unknown), and a failing ``stat`` always
re-reads.
"""

from __future__ import annotations

import ctypes
import os
import zipimport

_M_TRIM_THRESHOLD = -1
_M_MMAP_MAX = -4


def tune_allocator() -> None:
    try:
        libc = ctypes.CDLL("libc.so.6")
    except OSError:  # non-glibc platforms just skip
        return
    libc.mallopt.argtypes = (ctypes.c_int, ctypes.c_int)
    libc.mallopt.restype = ctypes.c_int
    libc.mallopt(_M_MMAP_MAX, 0)
    libc.mallopt(_M_TRIM_THRESHOLD, 2**31 - 1)


_reread_directory = zipimport.zipimporter.invalidate_caches
_SEEN = "_tokforge_archive_stat"


def _invalidate_if_changed(self) -> None:
    """Re-read this importer's archive only if it changed since its last read."""
    try:
        st = os.stat(self.archive)
        seen = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        seen = None
    if seen is None or self.__dict__.get(_SEEN) != seen:
        # stat before reading: a change during the read shows up next call
        _reread_directory(self)
        self.__dict__[_SEEN] = seen


tune_allocator()
zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
