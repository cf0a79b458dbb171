"""SparkSession factory with the pipeline's standard config."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_MAX_DRIVER_MB = 48 * 1024


def _driver_memory() -> str:
    """``SPARKLOG_DRIVER_MEM`` when set, else ~40% of the host's MemTotal
    capped at 48g: a fixed 48g heap outgrows a small host, and the OOM
    killer then takes the JVM (or a neighbour).  48g where
    ``/proc/meminfo`` is unreadable."""
    env = os.environ.get("SPARKLOG_DRIVER_MEM")
    if env:
        return env
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f
                      if ln.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return f"{_MAX_DRIVER_MB}m"
    return f"{min(_MAX_DRIVER_MB, kb * 2 // 5 // 1024)}m"


def get_spark(master: str | None = None, app: str = "sparklog",
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    n_threads = master.split("[")[-1].rstrip("]")
    shuffle = shuffle_partitions or (
        int(n_threads) if n_threads.isdigit() else 32)
    return (
        SparkSession.builder
        .master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch sizing is a MEMORY knob, not just an amortization
        # knob: 65k-row batches of token arrays put ~20MB per in-flight
        # task each direction, and at 32 concurrent tasks the JVM hits
        # direct-memory/GC stalls (measured 132s vs 5-10s for the same 6M-
        # row parse at 8k batches).  8k rows amortizes the Python roundtrip
        # fine (~2us/row compute) while keeping in-flight memory bounded.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", _driver_memory())
        # local-mode shuffle through one shared disk caps multi-core
        # scaling; tmpfs restores the per-node shuffle locality a real
        # cluster has (each executor spills to its own local disks)
        .config("spark.local.dir",
                os.environ.get("SPARKLOG_LOCAL_DIR", "/dev/shm/spark-local"))
        .config("spark.io.compression.codec", "zstd")
        # parse parallelism == scan parallelism (the parse UDF runs before
        # any exchange); small local corpora must still split across cores
        .config("spark.sql.files.maxPartitionBytes", "8m")
        .config("spark.sql.files.openCostInBytes", "1m")
        .getOrCreate()
    )
