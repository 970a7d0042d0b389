"""fileconvert_spark — a PySpark-native per-column lightweight-compression engine.

Brand-new engine (NOT a port) with the capabilities of the reference
``renesugar/FileConvert`` (a C/C++ CSV<->Parquet converter; see SURVEY.md §0 —
the reference checkout was empty, so capability citations are to
BASELINE.json): scan an Iceberg-style table of source-code files, encode every
column with an auto-selected lightweight codec (dictionary, RLE, FSST,
frame-of-reference + bit-packing, delta), decode bit-identical, at total
compressed size <= a Parquet/Snappy baseline, with per-partition lineage
manifests, checkpoint/resume, and explicit skew-aware partitioning.

Layout:
  functions/   pure NumPy/Arrow codec kernels (no Spark imports) + text/sim fns
  operators/   Spark operators: encode/decode executors, partitioning, dedup, knn
  sources/     IO seams: Iceberg-ish table layout, CSV<->Parquet converter
  plans/       job-level planning: manifests, checkpoint/resume, metrics
  streaming/   incremental (Trigger.AvailableNow) encode
"""

__version__ = "0.1.0"

import os as _os
import sys as _sys

# On this host, first-touch page faults dominate NumPy kernel cost: glibc
# munmaps large freed buffers and re-faults them on the next allocation.
# Keeping large allocations on the heap makes warm encode kernels ~4x faster.
# Must be set before the JVM / Python workers fork so children inherit it.
_os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
_os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "1073741824")


def _skip_worker_zip_rereads() -> None:
    """Stop every Spark task from re-reading every zip directory on
    ``sys.path``, in this Python worker.

    Every Python task runs ``pyspark.worker_util.setup_spark_files``, which
    ends by invalidating the import caches. On CPython 3.11 that makes
    each ``zipimporter`` re-read its whole central directory: pyspark.zip
    (1,328 entries, one importer per package dir), py4j and the engine's
    ``addPyFile`` zip — about 0.15-0.20 s of worker CPU per task on a
    4-core host, before the task does any work. A no-op 8-task
    ``mapInArrow`` on ``local[2]`` fell from 0.92-1.18 s to 0.36-0.47 s.

    Applied once per worker process, the first time a task imports the
    engine (cloudpickle imports it while unpickling any engine kernel; the
    task context is set before that), so every later task in the reused
    worker skips the re-read. Only ``zipimporter`` is touched: FileFinder
    and ``sys.meta_path`` invalidation still run. The driver and
    in-process kernel calls have no TaskContext and are never patched.

    A stale zip directory cannot be served: a zip Spark adds later is a
    new ``sys.path`` entry whose new importer reads its directory fresh;
    pyspark.zip and py4j are installed files; the engine zip name is
    content-hashed (``session._package_zip``); and a new SparkContext
    starts a new worker daemon, which forks fresh workers."""
    tc = _sys.modules.get("pyspark.taskcontext")
    if tc is None or tc.TaskContext.get() is None:
        return
    import zipimport

    zipimport.zipimporter.invalidate_caches = lambda self: None


_skip_worker_zip_rereads()
