"""SparkSession factory tuned for this engine.

Local test/bench runs use ``local[$SPARK_GRAFT_CPUS]``; on a real
cluster the same builder is used with master/memory supplied by the
deployment (spark-submit), so nothing here assumes single-node.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: driver heap a session asks for when the host has room for it
_DEFAULT_DRIVER_MEMORY_MB = 48 * 1024


def _driver_memory() -> str:
    """``spark.driver.memory`` for a new session: ``SPARK_GRAFT_DRIVER_MEM``
    when set, otherwise ``_DEFAULT_DRIVER_MEMORY_MB`` capped at half of
    the host's physical memory, so a second local session on a small
    host does not lose its JVM to the first one's heap."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):
        return f"{_DEFAULT_DRIVER_MEMORY_MB}m"
    return f"{min(_DEFAULT_DRIVER_MEMORY_MB, phys // 2 // 2**20)}m"


def get_spark(
    app_name: str = "hrtech_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    - AQE on: runtime partition coalescing + skew-join splitting cover
      the skew/sizing cases a static plan can't anticipate at 100TB.
    - Arrow on: every Python-side exchange (pandas UDFs, toPandas) is
      columnar-batched.
    - UTC session timezone: parity with the DuckDB oracle and with the
      reference's ISO-8601 string timestamps.
    - Local masters (``local`` / ``local[N]``) cap HotSpot at two JIT
      compiler threads (``-XX:CICompilerCount=2``, one C1 + one C2, the
      tiered minimum) instead of the ergonomic default that grows with
      the core count. In local mode the driver JVM also runs the N task
      threads, so extra compiler threads only compete with tasks for the
      same cores; on a cluster the driver runs no tasks and is left
      alone. The cap is set as ``spark.driver.defaultJavaOptions``, so a
      caller's ``spark.driver.extraJavaOptions`` is appended after it;
      to change or drop it, pass your own
      ``spark.driver.defaultJavaOptions`` in ``extra_conf``. Like every
      driver JVM option it only applies when this call launches the JVM.
    - Driver heap: ``SPARK_GRAFT_DRIVER_MEM`` when set, otherwise 48g
      capped at half of the host's physical memory.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", _driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
    )
    if master == "local" or master.startswith("local["):
        builder = builder.config(
            "spark.driver.defaultJavaOptions", "-XX:CICompilerCount=2"
        )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
