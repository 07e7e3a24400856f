"""SparkSession factory with the engine's standard configuration.

Arrow on (every custom kernel is an Arrow/pandas UDF — zero per-row
Python, per BASELINE.json input_hint), AQE on (runtime re-plan +
skew-join splitting), shuffle partitions sized to the actual
parallelism instead of the 200 default.

Importing this module (``pagerank_spark/__init__.py`` imports it first)
also guards ``zipimport.zipimporter.invalidate_caches`` so it re-reads
an archive only when the archive changed on disk. Every Python task
starts with ``importlib.invalidate_caches()``, and on CPython
3.10-3.12 each zipimporter on ``sys.path`` then re-parses its whole
archive directory; with ``pyspark.zip``, the py4j zip and the Spark
core jar on a worker's path that is ~0.25 s per task. Every engine
kernel goes through ``plans/kernel.py``, which binds module-level
functions only; they pickle by reference, so a Python worker imports
the package, and installs the guard, when it unpickles its first
kernel. CPython 3.13+ re-reads lazily, and the guard is inactive there.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

from pyspark.sql import SparkSession


def _guard_zip_rereads() -> None:
    """Make ``zipimporter.invalidate_caches`` skip an unchanged archive.

    The guard keeps, per importer, the ``(st_mtime_ns, st_size)`` of
    ``self.archive`` taken just before its last re-read, and calls the
    original method only when that key changed or ``stat`` fails.
    Idempotent; a no-op outside CPython 3.10-3.12.
    """
    if not (3, 10) <= sys.version_info < (3, 13):
        return
    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "stat_guarded", False):
        return

    @functools.wraps(reread)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size)
        except OSError:
            key = None
        if key is None or key != getattr(self, "_read_key", None):
            reread(self)
            self._read_key = key

    invalidate_caches.stat_guarded = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_guard_zip_rereads()


def _default_driver_memory() -> str:
    """Half of the machine's RAM (``MemTotal`` in /proc/meminfo), in
    whole GiB and at least 1g; 4g where /proc/meminfo is unreadable.

    In local mode the driver JVM is the whole engine, so its heap must
    fit the box it runs on — a fixed large default over-commits small
    machines, where the OS kills the JVM instead of Spark spilling.
    """
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    kib = int(line.split()[1])
                    return f"{max(1, kib // (2 * 1024 * 1024))}g"
    except (OSError, ValueError, IndexError):
        pass
    return "4g"


def get_spark(
    app_name: str = "pagerank-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    In production this is launched via ``spark-submit --py-files
    pagerank_spark.zip`` against a multi-executor cluster and ``master``
    is left to the submitter; locally it defaults to ``local[N]`` with
    N from $SPARK_GRAFT_CPUS (default: all cores). The driver heap is
    $SPARK_DRIVER_MEMORY, else half the machine's RAM.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and not os.environ.get("SPARK_MASTER"):
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus and cpus.isdigit() else 32
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        # Arrow batch size for mapInArrow/applyInPandas kernels: large
        # batches amortize Python/Arrow transfer overhead in the SpMV
        # and dedup kernels.
        "spark.sql.execution.arrow.maxRecordsPerBatch": "1000000",
        # Spark's stock default; the monitoring REST API it serves is
        # how join-strategy pagerank records MEASURED shuffle bytes per
        # iteration (plans/metrics.py). SPARK_UI=false opts out for
        # minimal runs.
        "spark.ui.enabled": os.environ.get("SPARK_UI", "true"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": os.environ.get(
            "SPARK_DRIVER_MEMORY", _default_driver_memory()
        ),
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
