"""Python worker setup: the engine stops Spark's per-task zip re-reads.

Every Python task calls ``importlib.invalidate_caches()``, which makes
each ``zipimporter`` re-read its zip directory (pyspark.zip, py4j, the
engine's ``addPyFile`` zip). Importing the engine in a worker disables
that for ``zipimporter`` only (``fileconvert_spark.__init__``). A
re-read replaces the importer's ``_files`` dict, so a stable ``id`` of
that dict across tasks in one worker process shows the skip.
"""

import zipimport

import pyarrow as pa


def _zip_state_kernel(import_engine):
    """A one-row mapInArrow kernel reporting, from the worker: its pid,
    the id of pyspark.zip's ``_files`` dict, and the qualname of the
    ``zipimporter.invalidate_caches`` in force."""

    def kernel(batches):
        import os
        import sys
        import zipimport as zi

        import_engine()
        for _ in batches:
            pass
        files = [id(f._files) for k, f in sys.path_importer_cache.items()
                 if isinstance(f, zi.zipimporter)
                 and k.endswith("pyspark.zip")]
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()],
            "files_id": [files[0] if files else -1],
            "invalidate": [zi.zipimporter.invalidate_caches.__qualname__],
        })

    return kernel


_SCHEMA = "pid long, files_id long, invalidate string"


def _observe(spark, import_engine, max_jobs=24):
    """Run one-partition jobs until some worker pid has served two tasks;
    returns every (pid, files_id, invalidate) seen, in order."""
    seen = []
    pids = set()
    for _ in range(max_jobs):
        row = spark.range(1, numPartitions=1).mapInArrow(
            _zip_state_kernel(import_engine), _SCHEMA).collect()[0]
        seen.append((row.pid, row.files_id, row.invalidate))
        if row.pid in pids:
            break
        pids.add(row.pid)
    return seen


def test_reused_worker_skips_zip_directory_reread(spark):
    def import_engine():
        import fileconvert_spark  # noqa: F401

    seen = _observe(spark, import_engine)
    last = {}
    repeats = 0
    for pid, files_id, invalidate in seen:
        assert files_id != -1, "no zipimporter for pyspark.zip in worker"
        assert invalidate != "zipimporter.invalidate_caches", invalidate
        if pid in last:
            repeats += 1
            assert files_id == last[pid], (
                f"worker {pid} re-read pyspark.zip between tasks")
        last[pid] = files_id
    assert repeats, f"no worker served two tasks: {seen}"
    # the driver is never patched
    assert zipimport.zipimporter.invalidate_caches.__qualname__ \
        == "zipimporter.invalidate_caches"
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


def test_importing_engine_functions_patches_worker(spark):
    def import_engine():
        from fileconvert_spark.functions import bitpack  # noqa: F401

    (_pid, _files, invalidate), = _observe(spark, import_engine, 1)
    assert invalidate != "zipimporter.invalidate_caches", invalidate
