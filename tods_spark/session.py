"""SparkSession factory for the engine.

Defaults are sized for the sandbox (single-JVM local[N]) but every knob is
cluster-correct: AQE on (runtime re-plan + skew-join splitting), Arrow on
(all our Python kernels are pandas/Arrow-vectorized, never per-row), shuffle
partitions ~ cores locally (on a real cluster AQE coalesces from a higher
initial number), UTC session timezone so results compare bit-for-bit against
the DuckDB oracle.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import os
import shutil
import signal
import subprocess
import sys

import pyspark
from pyspark import SparkContext
from pyspark.errors import PySparkRuntimeError
from pyspark.find_spark_home import _find_spark_home
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

# The driver JVM starts from a dynamic AppCDS archive: the classes a session
# loads, already parsed and verified, mapped from one file. A session start
# loads and verifies about 10.5k classes; the archive makes that a mapping.
# A launch with no archive runs as before but records the classes it loads
# (-XX:DumpLoadedClassList, no measurable cost) into
# <key>.classes.<pid>.tmp. At its exit, get_spark's atexit hook stops the
# JVM, waits for it and runs write_archive in a child process, bounded by
# ARCHIVE_EXIT_TIMEOUT_S: a gateway JVM started like the session's loads the
# recorded classes and writes them at its exit (-XX:ArchiveClassesAtExit)
# into <key>.jsa.<pid>.tmp, which is renamed to <key>.jsa only when that JVM
# exited 0, else deleted. The rename is what makes it safe: a truncated
# archive at the final path made the JVM die at start with SIGBUS, and a
# reader keeps its mapping of a replaced file. A JVM that dies at start
# from an archive anyway (one cut short after it was published) makes
# get_spark start again without it, and delete it once that start works;
# an archive the JVM maps is touched, one it rejects (-Xshare:auto) is
# deleted, so the next launch writes it again. The writer also deletes the
# *.<pid>.tmp files of pids no longer running and keeps only the
# ARCHIVES_KEPT archives used last (two checkouts run in turn, as an A/B
# benchmark does, keep one each). The session's own JVM does not write the
# archive: in dump mode JDK 17 compares every class it loads with each class
# path entry (a stat of both files per entry; Spark's class path has about
# 290 jars), and a session start cost 2.3 CPU-s (+23%) more; its JVM system
# time rose from 0.3 to 1.3-1.8 s.
# The key hashes the java binary (path, size, mtime), Spark's jars/ listing,
# the pyspark version and JIT_OPTIONS; one archive loaded under heaps from
# 1536m to 6213m, so the heap is not in it. Eligibility: JDK 17 writes no
# archive when the class path holds a non-empty directory ("Cannot have
# non-empty directory in paths"), and Spark puts its conf dir there. So a
# launch uses the archive only when that dir holds nothing but *.template
# files, no Hadoop/YARN conf dir or extra class path is set, and pyspark
# launches the JVM itself; it then runs with SPARK_CONF_DIR pointed at an
# empty dir in the cache. Any other launch runs exactly as before, with no
# archive. CDS logging is off: a rejected archive would print a warning on
# stdout, where perfbench's last line must stay its JSON result.
# Measured on 4 CPUs against no archive (perfbench/run.py --seconds 20,
# alternating pairs, archive written by an earlier run): setup_s
# 10.7 -> 6.4 CPU-s on cascade_sparse (10 pairs) and 9.4 -> 5.7 on
# cascade_dense (6 pairs), lower in every pair; session-start wall about
# 5 -> 2.5 s; warm builds and resumes did not move past the noise, and
# neither did a cold build's CPU (scripts/cold_build.py). The archive is
# 140-195 MB. The process that writes it runs its session at the cost of
# one without archives, and its exit takes 15-20 s longer.
CDS_OPTIONS = "-Xlog:cds=off,cds+dynamic=off"
ARCHIVE_EXIT_TIMEOUT_S = 120
ARCHIVES_KEPT = 2


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


def archive_dir() -> str:
    """Where the driver JVM's class-data archives live:
    $XDG_CACHE_HOME/tods_spark/jvm, else ~/.cache/tods_spark/jvm."""
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache")
    return os.path.join(cache, "tods_spark", "jvm")


def archive_path() -> str | None:
    """The class-data archive of this JDK, Spark jar set, pyspark version
    and JIT_OPTIONS (whether or not it exists yet); None when the java
    binary or Spark's jars cannot be read."""
    java_home = os.environ.get("JAVA_HOME")
    java = (os.path.join(java_home, "bin", "java") if java_home
            else shutil.which("java"))
    try:
        java = os.path.realpath(java)
        st = os.stat(java)
        jars = sorted((e.name, e.stat().st_size)
                      for e in os.scandir(os.path.join(_find_spark_home(), "jars")))
    except (OSError, TypeError):
        return None
    key = hashlib.sha256(repr((java, st.st_size, st.st_mtime_ns, jars,
                               pyspark.__version__, JIT_OPTIONS)).encode())
    return os.path.join(archive_dir(), key.hexdigest()[:16] + ".jsa")


def _shared_archive(extra_conf: dict) -> str | None:
    """archive_path() when this launch can write or read it (see
    CDS_OPTIONS), with its empty conf dir made; else None."""
    if (SparkContext._gateway is not None
            or "PYSPARK_GATEWAY_PORT" in os.environ
            or os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell") != "pyspark-shell"
            or any(os.environ.get(v) for v in ("HADOOP_CONF_DIR", "YARN_CONF_DIR",
                                               "SPARK_DIST_CLASSPATH"))
            or "spark.driver.extraClassPath" in extra_conf):
        return None
    conf_dir = (os.environ.get("SPARK_CONF_DIR")
                or os.path.join(_find_spark_home(), "conf"))
    empty_conf_dir = os.path.join(archive_dir(), "conf")
    archive = archive_path()
    try:
        names = os.listdir(conf_dir) if os.path.isdir(conf_dir) else []
        if archive is None or not all(n.endswith(".template") for n in names):
            return None
        os.makedirs(empty_conf_dir, exist_ok=True)
        if os.listdir(empty_conf_dir):
            return None
    except OSError:
        return None
    # Spark splits the option string on white space and quotes
    return None if any(c.isspace() or c in "'\"\\" for c in archive) else archive


def _running(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _sweep(keep: str) -> None:
    """Delete what writers that died left in the archive dir (a
    *.<pid>.tmp of a pid no longer running) and every archive but ``keep``
    and the ARCHIVES_KEPT - 1 others used last."""
    others = []
    with contextlib.suppress(OSError):
        for e in os.scandir(os.path.dirname(keep)):
            if e.name.endswith(".tmp"):
                pid = e.name.rsplit(".", 2)[-2]
                if pid.isdigit() and not _running(int(pid)):
                    with contextlib.suppress(FileNotFoundError):
                        os.remove(e.path)
            elif e.name.endswith(".jsa") and e.path != keep:
                others.append((e.stat().st_mtime, e.path))
    for _, path in sorted(others, reverse=True)[ARCHIVES_KEPT - 1:]:
        with contextlib.suppress(FileNotFoundError):
            os.remove(path)


def write_archive(class_list: str, archive: str) -> None:
    """Write ``archive`` from the classes a session loaded (``class_list``,
    as -XX:DumpLoadedClassList writes it): a gateway JVM launched as
    get_spark launches one loads them and writes them at its exit. The
    archive is published only when that JVM exited 0. Runs in a child
    process of the session's (python -m tods_spark.session LIST ARCHIVE)."""
    from concurrent.futures import ThreadPoolExecutor

    from py4j.protocol import Py4JError
    from pyspark import SparkConf
    from pyspark.java_gateway import launch_gateway

    _sweep(archive)
    with open(class_list) as f:  # "@..." lines are lambdas, "#" comments
        names = [line.split()[0].replace("/", ".") for line in f
                 if line.strip() and line[0] not in "@#"]
    tmp = f"{archive}.{os.getpid()}.tmp"
    os.environ["SPARK_CONF_DIR"] = os.path.join(os.path.dirname(archive), "conf")
    gateway = launch_gateway(SparkConf().set(
        "spark.driver.defaultJavaOptions",
        f"{CDS_OPTIONS} -XX:ArchiveClassesAtExit={tmp}"))
    proc = gateway.proc
    try:
        # loads without initializing; one py4j call a class, 4 at a time
        is_loadable = gateway.jvm.org.apache.spark.util.Utils.classIsLoadable

        def load(name):
            with contextlib.suppress(Py4JError):  # e.g. a LinkageError
                is_loadable(name)

        with ThreadPoolExecutor(min(4, os.cpu_count() or 1)) as pool:
            for _ in pool.map(load, names, chunksize=64):
                pass
        gateway.shutdown()
        proc.stdin.close()  # the gateway server exits 0 on stdin EOF
        if proc.wait(ARCHIVE_EXIT_TIMEOUT_S) == 0:
            fd = os.open(tmp, os.O_RDONLY)
            try:
                os.fsync(fd)  # whole on disk before it has the final name
            finally:
                os.close(fd)
            os.replace(tmp, archive)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        with contextlib.suppress(FileNotFoundError):  # a failed or cut dump
            os.remove(tmp)
    _sweep(archive)


def _write_at_exit(class_list: str, archive: str) -> None:
    """At interpreter exit, stop the JVM get_spark launched, wait for it,
    and write the archive from the classes it loaded (see CDS_OPTIONS)."""
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return

    def write():
        try:
            if proc.poll() is None:
                if SparkContext._active_spark_context is not None:
                    # first, or pyspark's accumulator server sees the JVM's
                    # socket close and prints an EOFError
                    SparkContext._active_spark_context.stop()
                proc.stdin.close()  # the gateway server exits 0 on stdin EOF
                try:
                    proc.wait(ARCHIVE_EXIT_TIMEOUT_S)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            if (proc.returncode == 0 and os.path.isfile(class_list)
                    and not os.path.exists(archive)):
                root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
                path = os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")]))
                writer = subprocess.Popen(
                    [sys.executable, "-m", "tods_spark.session", class_list, archive],
                    env={**os.environ, "PYTHONPATH": path}, stdin=subprocess.DEVNULL,
                    stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                    start_new_session=True)
                try:
                    writer.wait(ARCHIVE_EXIT_TIMEOUT_S)
                finally:
                    if writer.poll() is None:  # too slow, or interrupted:
                        os.killpg(writer.pid, signal.SIGKILL)  # and its JVM
                        writer.wait()
        except (OSError, subprocess.TimeoutExpired):
            pass
        finally:
            with contextlib.suppress(FileNotFoundError):
                os.remove(class_list)

    atexit.register(write)


def _note_use(archive: str) -> None:
    """Touch an archive the driver JVM mapped (see _sweep); delete one it
    rejected, so that the next launch writes it again."""
    try:
        with open(f"/proc/{SparkContext._gateway.proc.pid}/maps") as f:
            mapped = archive in f.read()
        if mapped:
            os.utime(archive)
        else:
            os.remove(archive)
    except (OSError, AttributeError):
        pass


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
    archive = _shared_archive(extra_conf or {})
    java_options, class_list = JIT_OPTIONS, None
    if archive and os.path.isfile(archive):
        java_options += f" {CDS_OPTIONS} -XX:SharedArchiveFile={archive}"
    elif archive:
        class_list = f"{archive[:-len('.jsa')]}.classes.{os.getpid()}.tmp"
        java_options += f" {CDS_OPTIONS} -XX:DumpLoadedClassList={class_list}"
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
        .config("spark.driver.defaultJavaOptions", java_options)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", "1073741824")
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "-1")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    conf_dir = os.environ.get("SPARK_CONF_DIR")
    if archive:
        os.environ["SPARK_CONF_DIR"] = os.path.join(archive_dir(), "conf")
    try:
        spark = builder.getOrCreate()
        if archive and not class_list:
            _note_use(archive)
    except PySparkRuntimeError as e:
        # a damaged archive at the final path (copied in, or cut short by a
        # crash) kills the JVM at start: start without it, and drop it only
        # once that start shows the archive was the cause
        if not archive or class_list or e.getCondition() != "JAVA_GATEWAY_EXITED":
            raise
        spark = builder.config("spark.driver.defaultJavaOptions",
                               JIT_OPTIONS).getOrCreate()
        with contextlib.suppress(FileNotFoundError):
            os.remove(archive)
    finally:
        if archive and conf_dir is None:
            del os.environ["SPARK_CONF_DIR"]
        elif archive:
            os.environ["SPARK_CONF_DIR"] = conf_dir
    if class_list:
        _write_at_exit(class_list, archive)
    spark.sparkContext.setLogLevel("WARN")
    return spark


if __name__ == "__main__":
    write_archive(*sys.argv[1:])
