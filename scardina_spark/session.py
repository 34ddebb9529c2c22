"""SparkSession factory tuned for both local testing and cluster scale.

Local tests run on ``local[N]``; the configs below are the ones that matter
at 100 TB too: AQE (runtime re-plan, skew-join splitting, partition
coalescing), Arrow for any pandas interchange, and a shuffle-partition
count sized to the parallelism at hand.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS",
                              len(os.sched_getaffinity(0))))


def driver_memory(meminfo: str, cgroup_limit: str | None = None) -> str:
    """Default driver heap: half of what this process may use — the
    cgroup limit when one is set, else ``MemTotal`` of ``/proc/meminfo``
    — capped at 48g."""
    total = int(re.search(r"^MemTotal:\s+(\d+) kB", meminfo, re.M)[1]) << 10
    if cgroup_limit and cgroup_limit.strip().isdigit():
        total = min(total, int(cgroup_limit))
    return f"{min(total // 2, 48 << 30) >> 20}m"


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return None


def get_spark(
    app_name: str = "scardina-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults.

    AQE is the load-bearing config: at cluster scale it re-plans joins with
    runtime statistics (skew-join splitting, dynamic coalescing, broadcast
    demotion/promotion), which is exactly what the reference's hand-rolled
    per-key Python loops cannot do (see /root/reference/scardina/join.py:141-219).
    """
    n = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 2 * n))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # driver testdata stores events.ts as TIMESTAMP(NANOS), which the
        # parquet reader rejects by default; read as long and normalize in
        # catalog.load_table (reference analog: tz normalization on load,
        # scardina/datasets.py:97-104)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # write micros, not nanos: nanos parquet timestamps get NO
        # footer min/max statistics (so no row-group pruning — see
        # operators/layout.py) and are exactly the interop hazard
        # load_table has to normalize away on read
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.driver.memory", os.environ.get(
            "SPARK_GRAFT_DRIVER_MEM") or driver_memory(
                _read("/proc/meminfo"),
                _read("/sys/fs/cgroup/memory.max")  # v2, else v1
                or _read("/sys/fs/cgroup/memory/memory.limit_in_bytes")))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # scan-task sizing: at 100 TB pick this so (maxPartitionBytes x
        # concurrent tasks x row-expansion) fits executor memory; 128 MiB
        # is the right default for the columnar scans here
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES",
                               str(128 * 1024 * 1024)))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir",
                os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark-warehouse"))
        # deterministic float semantics for test reproducibility
        .config("spark.sql.legacy.allowNegativeScaleOfDecimal", "true")
    )
    if master is not None:
        builder = builder.master(master)
    elif os.environ.get("SPARK_GRAFT_MASTER"):
        builder = builder.master(os.environ["SPARK_GRAFT_MASTER"])
    else:
        builder = builder.master(f"local[{n}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
