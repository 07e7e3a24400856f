"""SparkSession factory with the engine's standard configuration.

Arrow on (every custom kernel is an Arrow/pandas UDF — zero per-row
Python, per BASELINE.json input_hint), AQE on (runtime re-plan +
skew-join splitting), shuffle partitions sized to the actual
parallelism instead of the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


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
        # how pagerank records MEASURED shuffle bytes per iteration
        # (plans/metrics.py). SPARK_UI=false opts out for minimal runs.
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
