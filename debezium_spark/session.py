"""SparkSession construction tuned for the CDC/analytics workload.

Scale notes (100 TB / 1000 executors): every setting here is chosen to
be correct under `local[N]` *and* on a real cluster — AQE owns runtime
partition coalescing and skew-join splitting, so the static
`shuffle.partitions` is only an upper bound; broadcast threshold is
left at Spark's default so dimension tables broadcast automatically.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def host_fit(n_cpus: int, meminfo: str) -> tuple[int, str]:
    """Default (cores, driver memory) for a host: every CPU the process
    may run on, and half of `MemAvailable` in the `/proc/meminfo` text
    for the driver JVM, in whole GiB, at least 1g. In local mode the
    driver heap holds every task, so the other half is left to the
    Python workers, off-heap buffers and the rest of the host."""
    kb = int(re.search(r"^MemAvailable:\s+(\d+) kB", meminfo, re.M).group(1))
    return max(n_cpus, 1), f"{max(kb // 2**21, 1)}g"


def get_spark(
    app_name: str = "debezium-spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    - UTC session timezone: required for DuckDB-oracle parity (DuckDB
      timestamps are naive/UTC).
    - AQE on: runtime coalescing of small shuffle partitions and
      skew-join splitting — the scale path for hot CDC keys.
    - Arrow on: every Pandas-UDF boundary is Arrow-batched.
    - Cores and driver memory fit the host (`host_fit`) unless
      `SPARK_GRAFT_CPUS` / `SPARK_GRAFT_DRIVER_MEM` say otherwise.
    """
    with open("/proc/meminfo") as fh:
        host_cores, host_mem = host_fit(len(os.sched_getaffinity(0)), fh.read())
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", str(host_cores))
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", str(max(int(cores), 8))))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", host_mem))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # RAM-backed shuffle/spill: a shared disk is the contention
        # point under many local cores; on a real cluster this
        # maps to NVMe-backed local dirs per executor.
        .config(
            "spark.local.dir",
            os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
