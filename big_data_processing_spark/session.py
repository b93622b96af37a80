"""SparkSession factory.

Replaces the reference's session builder + pandas-fallback dispatch
(`/root/reference/src/data_processing/spark_processor.py:16-42`): we
keep its AQE flags and memory knobs, drop the dual-engine fallback
(`local[*]` already covers the no-cluster case), and fix its config
drift (shuffle partitions declared but never applied,
`/root/reference/src/config/settings.py:27`).

Scale notes
-----------
- AQE on: runtime partition coalescing + skew-join splitting mean
  the static ``shuffle.partitions`` only needs to be a sane upper
  bound; on a 1000-executor cluster raise it (e.g. 2000-4000) and
  let AQE coalesce.
- ``maxPartitionBytes`` 128m keeps scan partitions memory-friendly
  at any input size.
- Session timezone pinned to UTC so timestamp semantics are stable
  across engines (and match the DuckDB oracle).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "big-data-processing-spark"


def _default_master() -> str:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    return os.environ.get("SPARK_MASTER_URL", f"local[{cpus}]")


def _default_driver_mem(meminfo: str = "/proc/meminfo") -> str:
    """min(48g, half the host's MemTotal); 48g when ``meminfo`` is
    unreadable. The 48g cap holds on hosts with 96 GB or more."""
    try:
        with open(meminfo) as f:
            kb = next(
                int(line.split()[1]) for line in f
                if line.startswith("MemTotal:")
            )
    except (OSError, StopIteration, ValueError):
        return "48g"
    half_mb = kb // 2048
    return "48g" if half_mb >= 48 * 1024 else f"{half_mb}m"


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Defaults are tuned for local[N] testing but the same flags are
    what you want on a real cluster — only ``shuffle_partitions``
    and memory sizing change with cluster size.
    """
    master = master or _default_master()
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus and cpus.isdigit() else 32

    # local[N] runs driver and executors in ONE JVM: the default 1g
    # heap serves 32 task threads (measured OOM at sf1 on exact
    # percentile). Size the heap like the executor fleet it stands in
    # for, but never past half the host's memory: a heap larger than
    # the host gets the process killed instead of spilling. On a
    # real cluster this knob moves to executor.memory via
    # spark-submit.
    driver_mem = (
        os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem()
    )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    """Stop the active session if one exists (test teardown helper)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
