"""Process-level runtime tuning for kernel workers.

Three measured pathologies on this class of hosts (microVM, lazily
faulted guest memory):

1. glibc malloc serves large numpy buffers via fresh mmap regions;
   every first touch of a new region page-faults through the
   hypervisor's lazy memory path at ~1ms/page — a single cold Arrow
   batch stalled for SECONDS.  Raising M_MMAP_THRESHOLD / disabling
   trim keeps big buffers in the sbrk heap, which is faulted once and
   reused (measured: 68 -> ~1500 sentences/s single-thread).
2. OpenBLAS spawns its own threads per process; under Spark local[N]
   every python worker's BLAS escapes the scheduler's task slots,
   oversubscribing the host and corrupting any N-vs-4N scaling
   measurement.  Workers pin BLAS to 1 thread; parallelism belongs to
   Spark.
3. pyspark starts every task with ``importlib.invalidate_caches()``,
   and Python 3.11 answers it by re-reading the central directory of
   every zip importer in ``sys.path_importer_cache``: a reused worker
   holds about a dozen over ``pyspark.zip`` (1,328 entries), two over
   the 5,359-entry spark-core jar and two over py4j, plus the engine's
   own zip under ``spark-submit --py-files``.  That cost 0.27-0.33 s
   of CPU per task (52 ms per jar read, 13 ms per ``pyspark.zip``
   read) against ~0.2 s of kernel work per task on a 1,000-doc
   corpus.  Engine Python stages call ``drop_zip_importers`` when they
   finish a batch, so the next task's invalidation finds nothing to
   re-read; a dropped importer is rebuilt on the next lookup from
   ``zipimport._zip_directory_cache`` without reading the archive.
"""

from __future__ import annotations

import ctypes
import os
import sys
import zipimport

_done = False

_M_TRIM_THRESHOLD = -1
_M_MMAP_THRESHOLD = -3
_GB = 1 << 30


def tune_worker_runtime(blas_threads: int | None = 1) -> None:
    """Idempotent; safe to call from driver and executors alike.

    Pass blas_threads=None from the DRIVER (keep its default BLAS
    threading for single-process oracle runs); executors pass 1.
    The first caller wins, so a driver that builds the SparkSession
    before any kernel keeps multithreaded BLAS driver-side while
    workers (fresh processes) pin themselves.
    """
    global _done
    if _done:
        return
    _done = True

    try:
        libc = ctypes.CDLL("libc.so.6", use_errno=True)
        libc.mallopt(_M_MMAP_THRESHOLD, _GB)
        libc.mallopt(_M_TRIM_THRESHOLD, _GB)
    except Exception:
        pass

    if blas_threads is None:
        return
    try:
        import glob

        import numpy as np
        libdir = os.path.join(os.path.dirname(os.path.dirname(np.__file__)),
                              "numpy.libs")
        for so in glob.glob(os.path.join(libdir, "libopenblas*.so")):
            blas = ctypes.CDLL(so)
            for sym in ("openblas_set_num_threads64_",
                        "openblas_set_num_threads"):
                fn = getattr(blas, sym, None)
                if fn is not None:
                    fn(blas_threads)
                    break
    except Exception:
        pass


def drop_zip_importers() -> None:
    """Remove every zip importer from ``sys.path_importer_cache``.

    Costs microseconds; imports, loaded modules and their loaders are
    untouched (see pathology 3 above for what it saves).
    """
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)
