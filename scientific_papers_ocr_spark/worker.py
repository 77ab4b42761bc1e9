"""One-time bootstrap of a reused PySpark Python worker.

A reused worker (``SPARK_REUSE_WORKER`` set, the default) pays two fixed
costs between every pair of tasks, whatever the task's size:

- ``pyspark.worker_util.setup_spark_files`` calls
  ``importlib.invalidate_caches()`` per task, and on CPython 3.11 every
  ``zipimport.zipimporter`` on the path re-reads its whole archive directory
  eagerly.  A worker holds about 20 such importers (``pyspark.zip``, py4j,
  the Spark jar, this package's zip): with the collect below, ~200 ms of
  worker CPU per task, measured on a 4-core host with an ids-only
  ``mapInPandas`` whose UDF body takes a few ms (~5 ms per task after).
- ``pyspark/daemon.py`` runs ``gc.collect()`` after every task, rescanning
  the ~75k objects that importing pandas, pyarrow, pyspark and this
  package's UDF modules leaves behind.

``bootstrap()`` removes both, once per worker process: zip importers re-read
an archive only when its ``(st_mtime_ns, st_size)`` stamp changed (or the
stat fails), and the import-time heap is moved into the permanent GC
generation with ``gc.freeze()``.  The package's UDF entry points call it;
it is a no-op in the driver and in non-reused workers.
"""

from __future__ import annotations

import gc
import os
import zipimport

_done = False
_reread = zipimport.zipimporter.invalidate_caches


def _archive_stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read the archive directory only when the file changed since this
    importer last read it, or when it cannot be stat'ed."""
    stamp = _archive_stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_archive_stamp", None):
        _reread(self)
        self._archive_stamp = stamp


def bootstrap() -> None:
    """Patch zip-importer cache invalidation and freeze the import-time heap,
    once per reused Python worker; returns at once everywhere else."""
    global _done
    if _done or not os.environ.get("SPARK_REUSE_WORKER"):
        return
    _done = True
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    # freeze only after every UDF module is imported, so their objects are
    # frozen too
    from .operators import documents, turns  # noqa: F401

    gc.freeze()
