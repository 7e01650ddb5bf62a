"""Per-process set-up of a Python UDF worker, paid once per worker.

Spark reuses each Python worker process across tasks, but before every
task it calls `importlib.invalidate_caches()` (pyspark `worker_util.
setup_spark_files`).  On CPython < 3.13 that makes every
`zipimport.zipimporter` on the worker's path re-parse its archive's
whole central directory.  A worker holds one importer per package
prefix of pyspark.zip, plus importers on the py4j zip and the
spark-core jar: 16 in all, ~0.2 s per task on a 4-core host (Spark
4.1.2, CPython 3.11.7), against ~4 ms for every other step of the
worker's task set-up.  None of those archives changes while the worker
lives.  CPython 3.13 makes the same call cheap: it drops the cached
directory and re-reads it only when an import needs it.

`worker_init()` is the one set-up hook.  Every function the engine
hands Spark to run in a Python worker calls it first; kernels the
driver also runs (`_decode_term`, `_sum_scores`, `_phrase_match`,
`tokenize_flat`) do not.  The first task on a fresh worker still pays
one re-read of each archive.
"""

from __future__ import annotations

import os
import sys
import zipimport

_READY = False


def worker_init() -> None:
    """Idempotent per-process set-up of a Python UDF worker.

    - One Arrow compute thread and one IO thread.  pyarrow sizes its
      pools to the machine's hardware concurrency, ignoring cpusets and
      the fact that Spark already runs one worker per core: N workers ×
      32 Arrow threads on N pinned cpus thrashed the tokenize stage
      (measured 34 s@2c → 27 s@8c, with the same kernel at one thread
      scaling ~4×).  Spark's task parallelism is the parallelism.
    - On CPython < 3.13, `zipimporter.invalidate_caches` re-reads an
      archive only when it changed since that importer last read it
      (`_gate_zip_rereads`)."""
    global _READY
    if _READY:
        return
    import pyarrow as pa
    pa.set_cpu_count(1)
    pa.set_io_thread_count(1)
    if sys.version_info < (3, 13):
        _gate_zip_rereads()
    _READY = True


def _gate_zip_rereads() -> None:
    """Make `zipimporter.invalidate_caches` re-read the archive only when
    its (st_mtime_ns, st_size) differs from what THAT importer last
    read.  State is per instance, not per path: the importers on one
    archive's package prefixes each hold their own `_files`.  An
    importer whose archive cannot be stat'ed gets the original method
    (which drops its directory).  PathFinder and FileFinder invalidation
    is untouched, so a new path entry, or an archive rewritten by
    addPyFile, is still seen."""
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return reread(self)
        # stat BEFORE the read: a rewrite racing the read leaves an old
        # signature behind, so the next call reads again
        sig = (st.st_mtime_ns, st.st_size)
        if getattr(self, "_read_sig", None) != sig:
            reread(self)
            self._read_sig = sig

    zipimport.zipimporter.invalidate_caches = invalidate_caches
