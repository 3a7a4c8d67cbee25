"""SparkSession factory tuned for the CPG pipeline.

Settings chosen for scale (see SURVEY.md §4): AQE on (runtime re-plan +
skew-join splitting for hot external symbols), Arrow on (all frontends run as
Arrow-batched pandas UDFs), shuffle partitions sized to cores locally — on a
real cluster this is overridden via spark-submit conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """Half of physical memory, capped at 48g. Local mode runs the executors
    inside the driver JVM, and G1 grows the heap toward its maximum before it
    collects hard, so a maximum near or above host memory gets the JVM
    OOM-killed instead of garbage-collected."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):
        return "48g"
    return f"{min(48 * 1024, max(1024, total // 2**21))}m"


def get_spark(master: str | None = None, app: str = "joern_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    n_shuffle = shuffle_partitions or (2 * cpus)
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM",
                                                   default_driver_memory()))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.maxPlanStringLength", "100000")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # snappy, deliberately: measured on the 20M-row edge shape this box
        # writes zstd at 4.8s vs snappy 3.1s for near-identical output size
        # (310 vs 318 MB — edge columns are high-entropy 64-bit hashes, so
        # heavier compression buys ~2.5% bytes for ~55% more write CPU).
        # Revisit only if the sink moves to spinning disks / object storage
        # where bytes dominate.
        .config("spark.sql.parquet.compression.codec", "snappy")
    )
    # Shuffle/spill scratch on tmpfs when available: local-mode benches are
    # otherwise at the mercy of /tmp disk latency (a real cluster would use
    # instance-local NVMe for the same reason).
    if os.path.isdir("/dev/shm"):
        scratch = "/dev/shm/joern_spark_local"
        os.makedirs(scratch, exist_ok=True)
        b = b.config("spark.local.dir", scratch)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
