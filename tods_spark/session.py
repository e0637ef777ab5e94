"""SparkSession factory for the engine.

Defaults are sized for the sandbox (single-JVM local[N]) but every knob is
cluster-correct: AQE on (runtime re-plan + skew-join splitting), Arrow on
(all our Python kernels are pandas/Arrow-vectorized, never per-row), shuffle
partitions ~ cores locally (on a real cluster AQE coalesces from a higher
initial number), UTC session timezone so results compare bit-for-bit against
the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


HEAP_CAP_MB = 24 * 1024


def available_memory_bytes() -> int:
    """Memory this process can still use: /proc/meminfo MemAvailable, or
    the cgroup limit when that is lower (v2 memory.max, v1
    limit_in_bytes)."""
    with open("/proc/meminfo") as f:
        avail = next(int(line.split()[1]) * 1024 for line in f
                     if line.startswith("MemAvailable:"))
    for path in ("/sys/fs/cgroup/memory.max",
                 "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as f:
                limit = f.read().strip()
        except OSError:
            continue
        if limit.isdigit():
            avail = min(avail, int(limit))
    return avail


def default_driver_mem() -> str:
    """The driver heap: $SPARK_GRAFT_DRIVER_MEM, else 40% of available
    memory capped at 24g. The rest stays for the Python workers, off-heap
    Arrow buffers and the page cache."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    mb = min(HEAP_CAP_MB, int(available_memory_bytes() * 0.4) // 2**20)
    return f"{mb}m"


def get_spark(
    app_name: str = "tods_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the rollup engine.

    ``cores``: int N -> local[N]; "*" -> local[*]; None -> $SPARK_GRAFT_CPUS
    or local[*].
    """
    # glibc tuning for Arrow/numpy workers: without it every large numpy
    # allocation mmaps fresh pages and pays first-touch page faults (measured
    # ~150 MB/s on this kernel vs ~5 GB/s warm). Keeping big allocations in
    # the arena (high mmap threshold, no trim) makes workers reuse warm pages
    # — ~40x on allocation-heavy UDFs. Set BEFORE the JVM launches so
    # spawned Python workers inherit it; executorEnv covers cluster mode.
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "-1")
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    n_cores = (os.cpu_count() or 8) if cores == "*" else int(cores)
    if shuffle_partitions is None:
        # local mode: ~cores; a real cluster would start higher and let
        # AQE coalesce (spark.sql.adaptive.coalescePartitions).
        shuffle_partitions = max(8, n_cores)

    heap = default_driver_mem()
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 100k-row Arrow batches: the partial-digest/mapInPandas stages pay a
        # fixed python+groupby cost per batch — 100k cut the raw->1m stage
        # 33% vs 10k at 16M rows (and larger batches shuffle FEWER partial
        # rows); ~3 MB/batch of (key, ts, value) stays tiny per worker
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        .config("spark.driver.memory", heap)
        # pin -Xms to -Xmx: G1 otherwise uncommits heap regions between
        # bursts, and this kernel's first-touch page faults are globally
        # serialized (~1 GB/s across ALL threads) — an unpinned heap makes
        # every allocation burst a kernel convoy at high parallelism
        # (measured: 32-thread tier write 59s unpinned vs 13s pinned).
        # Size it to the job, not the box: a pinned 48g heap cost ~20s of
        # extra first-touch faults per JVM vs 24g (48s vs 29s cold on the
        # 16M-row rollup), and a heap the host cannot commit kills the JVM
        .config("spark.driver.extraJavaOptions", "-Xms" + heap)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", "1073741824")
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "-1")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
