"""SparkSession factory.

All timestamps are UTC (the reference coerces every datetime to UTC via
ensure_utc, /root/reference/graphiti_core/utils/datetime_utils.py:25-42 —
here a single session-level setting). Arrow is enabled because every
Python-side kernel in this engine is a vectorized pandas UDF; AQE is on so
runtime stats can re-plan shuffles/skew at scale.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """``spark.driver.memory`` when SPARK_GRAFT_DRIVER_MEM is unset: half
    of MemAvailable, between 1g and 16g. A fixed 16g heap on a 16 GB
    host lets the JVM grow until the kernel OOM-kills it mid-run
    instead of collecting garbage."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemAvailable:"))
    except (OSError, StopIteration, ValueError):
        return "16g"
    return f"{min(max(kb // 2 // 1024, 1024), 16 * 1024)}m"


def get_spark(
    app_name: str = "graphiti-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession configured for this engine.

    ``master`` defaults to local[$SPARK_GRAFT_CPUS] (env, default all cores)
    in the sandbox; on a real cluster it is supplied by spark-submit and
    this argument is left None. ``shuffle_partitions`` defaults to the
    parallelism level so small-scale runs don't pay 200-partition overhead
    while cluster runs can size it to cores × a small factor.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    heap = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory()
    if master is None:
        master = f"local[{cpus}]"

    if shuffle_partitions is None:
        if cpus != "*" and cpus.isdigit():
            shuffle_partitions = max(int(cpus), 4)
        else:
            shuffle_partitions = (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Input-split sizing: the sandbox corpora are single parquet
        # files; the default 128 MB split would run the whole extraction
        # UDF chain as ONE task regardless of cores (measured: identical
        # wall at local[2] and local[8]). Small maxPartitionBytes + a
        # core-count floor keep the scan parallel; at cluster scale the
        # table has many files and these bounds are no-ops.
        .config("spark.sql.files.maxPartitionBytes", "8m")
        .config(
            "spark.sql.files.minPartitionNum",
            str(shuffle_partitions),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Deep composed DAGs (delta-incremental over an in-memory prior)
        # can render multi-GB plan strings for the UI/debug listeners —
        # a driver-OOM vector that has nothing to do with data. Cap the
        # rendered length; execution is unaffected.
        .config("spark.sql.maxPlanStringLength", "100000")
        .config("spark.driver.memory", heap)
        .config("spark.ui.enabled", "false")
    )
    # Pre-back the whole heap at JVM start (provisioning, not throughput):
    # on this host, FIRST-touch of a fresh page runs at ~60-85 MB/s when
    # the hypervisor has unbacked the VM's free memory (measured,
    # BENCH/BASELINE.md round 3) while re-touch runs at GB/s — so an
    # allocation-heavy multi-core job serializes on page backing unless
    # the heap is pre-touched once up front. Standard production practice
    # (-Xms=-Xmx + AlwaysPreTouch on executors); opt-in because tests
    # prefer fast session spin-up over peak steady-state throughput.
    if os.environ.get("SPARK_GRAFT_PRETOUCH") == "1":
        builder = builder.config(
            "spark.driver.extraJavaOptions", f"-Xms{heap} -XX:+AlwaysPreTouch"
        )
    # Shuffle/spill dir: the sandbox's virtio /tmp does not scale with
    # cores; tmpfs stands in for the NVMe shuffle volumes a real cluster
    # provisions. BUT tmpfs spill counts against RAM and /dev/shm is
    # typically capped at 50% of memory — a larger-than-memory shuffle
    # would die with ENOSPC instead of spilling to disk. So tmpfs is
    # used only when it exists with generous headroom (≥ 16 GiB free);
    # otherwise Spark's disk default stands. Override with
    # SPARK_GRAFT_LOCAL_DIR either way.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        try:
            st = os.statvfs("/dev/shm")
            if st.f_bavail * st.f_frsize >= 16 * 1024**3:
                local_dir = "/dev/shm/spark-local"
        except OSError:
            pass
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


@contextmanager
def job_description(spark: SparkSession, text: str):
    """Label every Spark job started inside the block with ``text`` (the
    event log's ``spark.job.description``), then restore the caller's
    description. The job group is left alone, so callers that count or
    cancel jobs by group are unaffected."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(text)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", prev)
