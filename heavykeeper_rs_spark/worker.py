"""Per-task import-cache cost of a Spark Python worker.

PySpark's worker calls ``importlib.invalidate_caches()`` in
``pyspark.worker_util.setup_spark_files`` at the start of every task.
Before CPython 3.13, ``zipimport.zipimporter.invalidate_caches`` re-reads
its archive's whole central directory on every call, and a worker holds
one importer per package path inside ``pyspark.zip`` (a dozen) plus those
of any zip or jar on ``sys.path``: tens to hundreds of milliseconds per
task before any library code runs. CPython 3.13 made the invalidation
lazy (the directory is re-read on the next lookup that needs it, and
``zipimporter`` gained ``_get_files``).

``install()`` replaces the eager method, once per process, with one that
re-reads an archive only when ``os.stat`` of it gives another
``(st_size, st_mtime_ns, st_ino)`` than the stat taken before this
importer's last read (an importer read before ``install()`` has no such
stat, so its next invalidation still re-reads); when the stat fails it
always re-reads. A rewritten or replaced archive is therefore still
re-read at the next invalidation, so imports see the same files as on
3.13. The package ``__init__`` installs it only inside a Spark task,
never on the driver.
"""

import os
import zipimport

_reread = None  # the interpreter's own method, once replaced


def _invalidate_caches(self) -> None:
    try:
        st = os.stat(self.archive)
        sig = (st.st_size, st.st_mtime_ns, st.st_ino)
    except OSError:
        sig = None
    if sig is None or sig != getattr(self, "_read_stat", None):
        _reread(self)
        self._read_stat = sig


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` stat-checked (idempotent;
    a no-op where the interpreter's invalidation is already lazy)."""
    global _reread
    zi = zipimport.zipimporter
    if hasattr(zi, "_get_files") or zi.invalidate_caches is _invalidate_caches:
        return
    _reread = zi.invalidate_caches
    zi.invalidate_caches = _invalidate_caches
