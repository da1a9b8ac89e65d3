"""SparkSession factory tuned for the validation engine.

Local-mode testing defaults; on a real cluster the same builder options apply
(shuffle partitions become per-stage knobs set by the runner, see
desbordante_spark/plans/runner.py).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _cpus() -> str:
    """Local cores: ``SPARK_GRAFT_CPUS``, else the cores this process may
    run on."""
    if os.environ.get("SPARK_GRAFT_CPUS"):
        return os.environ["SPARK_GRAFT_CPUS"]
    if hasattr(os, "sched_getaffinity"):
        return str(len(os.sched_getaffinity(0)))
    return str(os.cpu_count() or 1)


def _driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Driver heap: ``SPARK_DRIVER_MEM``, else a quarter of the machine's
    memory, between 1g and 16g. The JVM grows its heap toward this bound
    before it collects, so a bound near the machine's whole memory can
    exhaust it."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open(meminfo) as f:
            kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return "1g"  # Spark's own default
    return f"{min(16 * 1024, max(1024, kb // 1024 // 4))}m"


def get_spark(
    app_name: str = "desbordante_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with engine defaults.

    AQE is on (runtime coalescing + skew-join handling); Arrow is on for every
    pandas-UDF boundary; shuffle partitions default to the core count rather
    than Spark's legacy 200 so small-SF local runs don't pay empty-task
    overhead. On a 1000-executor cluster the runner overrides
    ``spark.sql.shuffle.partitions`` per constraint stage instead.

    Local cores and the driver heap come from the machine (see ``_cpus``
    and ``_driver_memory``); ``SPARK_GRAFT_CPUS`` and ``SPARK_DRIVER_MEM``
    override them.
    """
    cpus = _cpus()
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = cpus if cpus.isdigit() else os.cpu_count() or 8
        shuffle_partitions = int(n)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", _driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
