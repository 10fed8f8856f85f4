"""SparkSession factory tuned for the dedup pipeline.

Scale posture (tested on local[N], designed for 1000-executor clusters):
- AQE on with skew-join handling: LSH band buckets and conversation-length
  blocks are Zipf-skewed by nature (templated tool outputs create mega-bands);
  AQE splits the skewed shuffle partitions at runtime.
- Arrow on: every custom fingerprint (MinHash/SimHash/spans) is a vectorized
  pandas UDF fed by Arrow batches — never row-at-a-time Python.
- UTC session timezone: required for DuckDB-oracle timestamp equality.
"""

from __future__ import annotations

import os
from collections.abc import Mapping

from pyspark.sql import SparkSession


def local_defaults(
    env: Mapping[str, str], affinity_cpus: int, mem_total_kb: int
) -> tuple[int, int, str]:
    """(cores, shuffle partitions, driver heap) of a local session: cores are
    ``SPARK_GRAFT_CPUS``, else the CPU affinity; partitions
    ``DEDUP_SHUFFLE_PARTITIONS``, else the cores; the heap
    ``DEDUP_DRIVER_MEM``, else half of MemTotal capped at 48g."""
    cores = int(env.get("SPARK_GRAFT_CPUS") or affinity_cpus)
    partitions = int(env.get("DEDUP_SHUFFLE_PARTITIONS") or cores)
    heap = env.get("DEDUP_DRIVER_MEM") or f"{min(mem_total_kb // 2048, 48 * 1024)}m"
    return cores, partitions, heap


def get_spark(
    app_name: str = "dedup",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master``, the shuffle partitions and the driver heap default to
    ``local_defaults`` for this process and host; an explicit argument wins.
    On a real cluster this module is a no-op passthrough — spark-submit
    supplies master and sizing, and these SQL confs remain correct.
    """
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    cores, partitions, heap = local_defaults(os.environ, len(os.sched_getaffinity(0)), kb)
    if master is None:
        master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = partitions

    # glibc tuning for the Python UDF workers (forked from the JVM, which
    # inherits this process's env): without it every Arrow batch's numpy
    # arrays are fresh mmaps, and first-touch page churn makes identical
    # batches vary 10-20× in wall time (measured). Keep allocations on the
    # reused heap instead.
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "2147483647")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "268435456")

    # shuffle/spill scratch on tmpfs when available: 32 concurrent tasks
    # writing shuffle files through one virtio disk serializes the job on
    # IO regardless of core count (observed: local[32] == local[8] walls)
    local_dir = os.environ.get("SPARK_LOCAL_DIRS")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
        os.makedirs(local_dir, exist_ok=True)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        # Coalescing with the DEFAULT 1 MB minPartitionSize collapses every
        # small-BYTES shuffle (pair tables, band windows, CC labels) to ONE
        # partition, serializing work that is expensive per ROW; disabling
        # coalescing instead made every tiny shuffle pay 32 near-empty
        # tasks. 64 KB keeps row-heavy/byte-light shuffles parallel while
        # letting genuinely tiny ones coalesce.
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", "2147483647")
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "268435456")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", heap)
        .config("spark.ui.enabled", "false")
        # AppStatusStore retention: util.shuffle_totals sums per-stage byte
        # counters from this store (the bench/kernel-A/B evidence). At the
        # default retention (~1000 stages) long runs EVICT early stages and
        # before/after deltas go NEGATIVE (observed: -827 MB). Retention is
        # metadata-cheap; keep every stage a bench run can produce.
        .config("spark.ui.retainedStages", "50000")
        .config("spark.ui.retainedJobs", "20000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # UDF-heavy text work: cost ∝ rows, so prefer more, smaller splits
        # than the 128 MB default (row-group granularity still applies)
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
