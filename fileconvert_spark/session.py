"""SparkSession factory tuned for this engine.

Local-mode defaults match the sandbox (single JVM, N threads); on a real
cluster the same conf applies except master/memory come from spark-submit.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import SparkSession


def _package_zip() -> str:
    """Zip this package so executors can import it — the local-mode
    equivalent of ``spark-submit --py-files`` (BASELINE.json line 14).

    The cache file is CONTENT-ADDRESSED (sha256 over every .py/.c in the
    package), not a shared mtime-guarded name: two checkouts of different
    versions on one host (a git worktree A/B, a rollback) would otherwise
    silently ship whichever zip was built last — the executors would run
    different code than the driver imported. Measured consequence before
    the fix: an encode A/B where the "old" arm produced the NEW arm's
    output ratio because the worktree's older mtimes never invalidated
    the other checkout's zip."""
    import hashlib

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    parent = os.path.dirname(pkg_dir)
    h = hashlib.sha256()
    for root, _d, files in sorted(os.walk(pkg_dir)):
        for f in sorted(files):
            if f.endswith((".py", ".c")):
                p = os.path.join(root, f)
                h.update(os.path.relpath(p, pkg_dir).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    out = os.path.join(tempfile.gettempdir(),
                       f"fileconvert_spark_pyfiles_{h.hexdigest()[:16]}")
    zip_path = out + ".zip"
    if not os.path.exists(zip_path):
        tmp = shutil.make_archive(out + "_tmp", "zip", root_dir=parent,
                                  base_dir="fileconvert_spark")
        os.replace(tmp, zip_path)
    return zip_path


def get_spark(
    app_name: str = "fileconvert_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # let AQE coalesce shuffles UNDER cached plans too (r8): with the
        # default false, persisting a post-aggregation frame materializes
        # every raw shuffle partition as its own cache-build task —
        # measured at 10 GB/1024 shuffle partitions: plan_buckets'
        # persisted per-key size table cost 6-12 s vs 3.7 s with this on
        # (the 201-row cache was paying 1024 task launches)
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # content rows are KBs; cap Arrow batches by bytes, not just rows,
        # so the JVM<->Python Arrow IPC boundary streams bounded batches.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(64 << 20))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


def job_session(app_name: str) -> tuple[SparkSession, bool]:
    """Session for the ``jobs/`` entry points; returns (spark, owned).

    No master is set: under spark-submit the existing driver and its
    submit-time settings win, and an active session (an embedding caller,
    pytest) is reused. ``owned`` is True only when this call started the
    session, so the job stops only what it created. The memory default
    only takes effect when this process launches the JVM: under plain
    ``python jobs/<job>.py`` the local-mode driver (which is every
    executor) would otherwise start with a 1 GB heap and OOM on multi-GB
    inputs.
    """
    owned = SparkSession.getActiveSession() is None
    spark = (
        SparkSession.builder.appName(app_name)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark, owned


def _ship_package(spark: SparkSession) -> None:
    """Make executors able to import fileconvert_spark from any cwd;
    under spark-submit --py-files the zip is already shipped."""
    try:
        spark.sparkContext.addPyFile(_package_zip())
    except Exception:  # noqa: BLE001 - already added in a reused session
        pass
