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

# The driver JVM's JIT policy: C2 inlines at most 9 call levels deep
# (JDK 17's default is 15, JDK 13's was 9) and inlines an already compiled
# method only when its code is under 1000 bytes (default 2500). Most of the
# CPU of a session's first builds is C2 compiling Spark's planner, codegen
# and start-up code, and inlining sets a C2 compile's size; smaller compiles
# cost less CPU and reach the same methods as early as before.
# Measured on 4 CPUs against no flags, alternating runs: cascade_sparse
# build_cpu_s -22% and resume_cpu_s -27% (perfbench/run.py, 10 pairs, each
# lower in 10), with warm build wall -3%; bench.py at sf0.01, 3 rounds: total
# wall 18.7 -> 17.7 s and process-tree CPU 291 -> 238 s (lower in 3 of 3).
# At 4M dense docs (scripts/cold_build.py, 3 runs a side) the cold build
# 101 -> 89 CPU-s and a warm one 50 -> 45.
# Rejected, by measurement:
#   raising the tier-4 (C2) thresholds keeps code in profiled C1 for
#   longer: at 10x their defaults cascade_sparse build_cpu_s fell 22%, but
#   bench.py's token_cascade wall rose 12% (4 of 5 rounds), the test suite's
#   wall time 10-19%, and a one-shot cold build's wall did not fall; at 4x
#   build_cpu_s fell 19% and bench.py's total rose 2-13% (3 of 3 rounds);
#   at 2x build_cpu_s fell only 8% (5 of 6 pairs);
#   C1 only (-XX:TieredStopAtLevel=1) loses on per-row JVM work
#   (cascade_dense resume_cpu_s +26%; at 4M dense docs a warm build +17%
#   and a resume +89%); -XX:-DoEscapeAnalysis saved 4% of bench.py's CPU
#   in one run.
# The flags go in spark.driver.defaultJavaOptions: a caller that passes its
# own spark.driver.extraJavaOptions (perfbench/run.py does) replaces the
# extraJavaOptions set below. Spark starts the JVM with
# -XX:+IgnoreUnrecognizedVMOptions, so a misspelt flag would be dropped
# silently; tests/test_session.py reads the values back from the JVM.
# Scope: the driver JVM that get_spark launches, which in local mode runs
# every task. Under spark-submit the JVM starts before get_spark: pass the
# string there with --conf spark.driver.defaultJavaOptions=... . Executor
# JVMs on a cluster are not covered, and were not measured.
JIT_OPTIONS = "-XX:MaxInlineLevel=9 -XX:InlineSmallCode=1000"


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
        .config("spark.driver.defaultJavaOptions", JIT_OPTIONS)
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
