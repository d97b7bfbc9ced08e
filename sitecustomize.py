"""Two interpreter-startup fixes for every Python worker in the job.

A ``sitecustomize`` on PYTHONPATH runs at interpreter startup in the
pyspark *daemon*, and every worker the daemon forks inherits its effects
— including workers whose UDFs cloudpickle serialized BY VALUE and that
never import tse_spark.  ``tse_spark.session`` and
``tse_spark.bench_build`` prepend this directory to PYTHONPATH before the
JVM (hence the daemon) starts.  On a real cluster, put it on every node
and name that directory in ``spark.executorEnv.PYTHONPATH``; a
``--py-files`` path is added per task, after interpreter start.

1. THP opt-out.  pyarrow's bundled jemalloc madvise(MADV_HUGEPAGE)s its
   arenas, and on kernels with ``transparent_hugepage/defrag=madvise``
   page faults on those regions enter direct memory compaction.  Many
   concurrent pyspark workers then serialize on the compaction locks —
   measured as a 16x collapse of the posting-encode stage (2.5 s tasks
   turning into 58 s tasks, bimodally, depending on which workers were
   protected).  ``prctl(PR_SET_THP_DISABLE)`` here runs before jemalloc
   exists and is inherited across fork.  Fleets with THP configured
   sanely set ``TSE_SPARK_KEEP_THP=1`` to skip it.

2. Lazy zipimport invalidation (CPython < 3.12 only).  Before every task
   pyspark's ``worker_util.setup_spark_files`` calls
   ``importlib.invalidate_caches()``.  Workers import pyspark from
   ``$SPARK_HOME/python/lib/pyspark.zip`` (~1,300 entries), and on
   CPython 3.8–3.11 each of the ~16 ``zipimporter``s on that archive
   then re-reads the whole zip directory.  Measured on Python 3.11.7,
   ``local[4]``: that call took 125 ms p50 inside a task, and a job of
   16 no-op ``mapInArrow`` tasks took 943 ms (a JVM-only job of 16 tasks
   takes ~80 ms).  With the fix the call takes 0.17 ms and the job
   309 ms.  CPython 3.12 made this invalidation lazy (gh-103200).  The
   backport below re-reads an archive only when its
   ``(st_mtime_ns, st_size)`` differs from the last read, and otherwise
   re-binds the directory already in ``zipimport._zip_directory_cache``.
   It does nothing on Python >= 3.12 or if the zipimport internals are
   not the pure-Python 3.8–3.11 ones.
"""

import os
import sys

if os.environ.get("TSE_SPARK_KEEP_THP") != "1":
    try:
        import ctypes

        _libc = ctypes.CDLL("libc.so.6", use_errno=True)
        _libc.prctl(41, 1, 0, 0, 0)  # PR_SET_THP_DISABLE
    except Exception:
        pass

if sys.version_info < (3, 12):
    try:
        import zipimport

        _dir_cache = zipimport._zip_directory_cache
        _read_directory = zipimport._read_directory
        _ZipImportError = zipimport.ZipImportError
        # archive -> (st_mtime_ns, st_size) taken just before its last read
        _dir_stamps = {}

        def _invalidate_caches(self):
            """Re-read the archive's directory only if the file changed."""
            try:
                st = os.stat(self.archive)
                stamp = (st.st_mtime_ns, st.st_size)
            except OSError:
                stamp = None
            files = _dir_cache.get(self.archive)
            if (
                stamp is not None
                and files is not None
                and _dir_stamps.get(self.archive) == stamp
            ):
                self._files = files
                return
            try:
                self._files = _read_directory(self.archive)
            except _ZipImportError:
                _dir_cache.pop(self.archive, None)
                _dir_stamps.pop(self.archive, None)
                self._files = {}
            else:
                _dir_cache[self.archive] = self._files
                _dir_stamps[self.archive] = stamp

        if isinstance(_dir_cache, dict) and callable(_read_directory):
            zipimport.zipimporter.invalidate_caches = _invalidate_caches
    except Exception:
        pass
