"""PySpark worker daemon: warm imports, no THP, zip-directory stamps.

Use via ``spark.python.daemon.module=lucene_solr_spark.warm_daemon``.
It shapes what every forked worker pays at start-up and on every task:

1. **Warm imports.** The stock daemon imports only pyspark; every forked
   worker then pays the pandas/pyarrow/numpy import (~1-2 s CPU) on its
   first Arrow UDF. When the worker pool churns (idle timeouts, one-off
   stages, pool rebuilds between jobs), that cold import repeats per
   fork and — at high core counts — the fork+import storm serializes in
   the kernel (measured: sys-time-dominated stalls with idle CPUs).
   Importing the heavy modules HERE, before the daemon starts forking,
   lets every worker inherit them copy-on-write: a fork costs pages,
   not imports.
2. **Transparent-hugepage opt-out** for the worker tree (below).
3. **Zip-directory stamps.** Workers import pyspark from
   ``$SPARK_HOME/python/lib/pyspark.zip`` and the py4j zip, and every
   task's ``setup_spark_files`` calls ``importlib.invalidate_caches()``.
   On Python 3.11 that makes each of the ~16 ``zipimporter`` objects
   over those archives (one per package prefix) re-parse its archive's
   central directory, ~27k entries per call: 170-210 ms of every Python
   task on a 4 vCPU host, about half of a trivial ``mapInPandas`` job.
   The wrapper below skips the re-read while the archive's
   ``(st_mtime_ns, st_size)`` equals the stamp taken when its directory
   was last read; a changed or missing archive goes through the
   original method. The daemon stamps once before forking, so every
   worker starts stamped and the call costs ~0.2 ms.
"""

import importlib
import os
import zipimport

import numpy  # noqa: F401
import pandas  # noqa: F401
import pyarrow  # noqa: F401

if os.environ.get("LSS_THP_DISABLE", "1") == "1":
    # Default-ON opt-out of transparent hugepages for this process
    # tree (PR_SET_THP_DISABLE, inherited across fork; set
    # LSS_THP_DISABLE=0 to keep THP). Rationale: Python workers
    # allocate multi-MB SHORT-LIVED numpy/Arrow temporaries per task —
    # they never amortize a hugepage's TLB win, but every fresh large
    # mmap can stall on khugepaged compaction (this host: ~0.75 s
    # intermittent stalls under madvise+defer policy, see util/env.py;
    # adjacent A/B at 400k docs x 32 workers: +14% build throughput
    # with THP off). Per-process flag only — no system state touched.
    try:
        import ctypes

        libc = ctypes.CDLL("libc.so.6", use_errno=True)
        PR_SET_THP_DISABLE = 41
        libc.prctl(PR_SET_THP_DISABLE, 1, 0, 0, 0)
    except Exception:  # pragma: no cover - non-linux/glibc
        pass

_reread_directory = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size) when its directory was last read
_stamps: dict = {}


def _stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_if_changed(self):
    """``zipimporter.invalidate_caches`` that skips an unchanged archive.

    Stamps are kept per archive, not per importer: one archive has an
    importer per package prefix, each holding its own ``_files``. A skip
    rebinds ``_files`` from the shared directory cache, so when one
    importer re-reads a changed archive, the others see the new
    directory instead of keeping a stale one."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _reread_directory(self)
    _stamps[self.archive] = stamp


zipimport.zipimporter.invalidate_caches = _invalidate_if_changed

try:  # the engine's own worker-side imports, if resolvable
    from lucene_solr_spark.index import codec  # noqa: F401
    from lucene_solr_spark.util import smallfloat  # noqa: F401
except Exception:  # pragma: no cover - py-files layout may differ
    pass

from pyspark.daemon import manager

if __name__ == "__main__":
    # stamp every archive on sys.path before forking; workers inherit them
    importlib.invalidate_caches()
    manager()
