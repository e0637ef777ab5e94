from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
from types import SimpleNamespace

import pytest
from pyspark.errors import PySparkRuntimeError
from pyspark.sql import SparkSession

from tods_spark import session


def test_default_heap_fits_available_memory(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    heap = session.default_driver_mem()
    assert heap.endswith("m")
    heap_bytes = int(heap[:-1]) * 2**20
    assert 0 < heap_bytes < session.available_memory_bytes()
    assert heap_bytes <= session.HEAP_CAP_MB * 2**20


def test_driver_mem_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session.default_driver_mem() == "3g"


def test_driver_jvm_runs_the_jit_options(spark):
    """The values the running JVM chose, not its command line: Spark starts
    it with -XX:+IgnoreUnrecognizedVMOptions, so a misspelt flag would be
    on the command line and have no effect."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
    flags = dict(f.removeprefix("-XX:").split("=") for f in session.JIT_OPTIONS.split())
    assert len(flags) == 2
    for name, value in flags.items():
        assert bean.getVMOption(name).getValue() == value, name


def test_caller_extra_java_options_keep_the_jit_options(monkeypatch, tmp_path):
    """A caller's extraJavaOptions (perfbench's start_session passes its own)
    replaces get_spark's, so the JIT policy lives in defaultJavaOptions."""
    conf = {}

    def config(self, key=None, value=None, **_):
        conf[key] = value
        return self

    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    started = SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda _: None))
    monkeypatch.setattr(SparkSession.Builder, "config", config)
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: started)
    session.get_spark(extra_conf={"spark.driver.extraJavaOptions": "-Xms1g"})
    assert conf["spark.driver.extraJavaOptions"] == "-Xms1g"
    assert conf["spark.driver.defaultJavaOptions"].startswith(session.JIT_OPTIONS)


ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# One driver process: start a session, note what the JVM mapped, run a query
# and exit (the class-data archive is written at exit). Prints nothing.
CHILD = textwrap.dedent("""
    import json, os, sys
    from tods_spark.session import archive_path, get_spark

    spark = get_spark(app_name="cds_probe", cores=1)
    jvm = spark.sparkContext._jvm
    pid = jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/maps") as f:
        maps = f.read()
    args = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
    with open(sys.argv[1], "w") as f:
        json.dump({"pid": pid, "archive": archive_path(),
                   "mapped": archive_path() in maps,
                   "cds_args": [a for a in args if "Archive" in a or "cds" in a
                                or "ClassList" in a],
                   "conf_dir": os.environ.get("SPARK_CONF_DIR"),
                   "jvm_conf_dir": jvm.java.lang.System.getenv("SPARK_CONF_DIR"),
                   "sum": spark.range(100).selectExpr("sum(id)").first()[0]}, f)
""")


def child_env(tmp_path, conf_files=("spark-defaults.conf.template",)) -> dict:
    """The environment of an eligible launch (a conf dir of templates only)
    with its own cache; conf_files other than templates make it
    ineligible."""
    conf = tmp_path / "conf"
    conf.mkdir(exist_ok=True)
    for name in conf_files:
        (conf / name).write_text("spark.ui.showConsoleProgress false\n")
    env = {k: v for k, v in os.environ.items() if k not in (
        "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH",
        "PYSPARK_SUBMIT_ARGS", "PYSPARK_GATEWAY_PORT")}
    env.update(XDG_CACHE_HOME=str(tmp_path / "cache"), SPARK_CONF_DIR=str(conf),
               SPARK_GRAFT_DRIVER_MEM="1g", PYTHONPATH=ROOT)
    return env


def run_child(env, tmp_path) -> tuple[dict, str]:
    """(what the child saw, its stdout)."""
    out = tmp_path / "child.json"
    proc = subprocess.run([sys.executable, "-c", CHILD, str(out)], env=env,
                          cwd=tmp_path, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    seen = json.loads(out.read_text())
    assert seen["sum"] == 4950
    return seen, proc.stdout


def cache_files(tmp_path) -> list[str]:
    jvm = tmp_path / "cache" / "tods_spark" / "jvm"
    return sorted(p.name for p in jvm.iterdir() if p.is_file()) if jvm.exists() else []


def processes_naming(path) -> list[str]:
    """Command lines of running processes that mention ``path``."""
    found = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        if str(path) in cmd:
            found.append(cmd)
    return found


def test_first_launch_writes_the_archive_and_the_next_maps_it(tmp_path):
    env = child_env(tmp_path)
    first, _ = run_child(env, tmp_path)
    assert not first["mapped"]
    assert any("DumpLoadedClassList" in a for a in first["cds_args"])
    assert not any("ArchiveClassesAtExit" in a for a in first["cds_args"])
    # the archive was written at exit from the classes the JVM loaded and
    # moved to its final name: one <key>.jsa, no .tmp left, and neither the
    # session's JVM nor the writer's still running
    assert cache_files(tmp_path) == [os.path.basename(first["archive"])]
    assert not os.path.exists(f"/proc/{first['pid']}")
    assert processes_naming(tmp_path / "cache") == []
    # the conf dir swap lasts for the launch only
    assert first["conf_dir"] == env["SPARK_CONF_DIR"] != first["jvm_conf_dir"]

    second, _ = run_child(env, tmp_path)
    assert second["archive"] == first["archive"]
    assert second["mapped"]
    assert cache_files(tmp_path) == [os.path.basename(first["archive"])]

    # an archive cut short at its final path kills the JVM at start (SIGBUS):
    # get_spark starts again without it, then deletes it
    os.chmod(first["archive"], 0o644)
    os.truncate(first["archive"], os.path.getsize(first["archive"]) // 4)
    third, _ = run_child(env, tmp_path)
    assert third["cds_args"] == [] and not third["mapped"]
    assert cache_files(tmp_path) == []

    # a file the JVM rejects at the archive path: the session works, stdout
    # stays empty, and the file is deleted so that the next launch writes
    with open(first["archive"], "wb") as f:
        f.write(os.urandom(1 << 16))
    fourth, stdout = run_child(env, tmp_path)
    assert any("SharedArchiveFile" in a for a in fourth["cds_args"])
    assert not fourth["mapped"]
    assert stdout == ""
    assert cache_files(tmp_path) == []


def test_ineligible_launch_writes_no_archive(tmp_path):
    """A conf dir holding more than templates stays on the class path, where
    JDK 17 cannot dump from: the launch runs as without archives."""
    env = child_env(tmp_path, conf_files=("spark-defaults.conf",))
    seen, _ = run_child(env, tmp_path)
    assert seen["cds_args"] == [] and not seen["mapped"]
    assert seen["conf_dir"] == seen["jvm_conf_dir"] == env["SPARK_CONF_DIR"]
    assert cache_files(tmp_path) == []


def test_sweep_drops_dead_writers_files_and_old_archives(tmp_path):
    dead = subprocess.Popen([sys.executable, "-c", ""])
    dead.wait()
    names = {"a.jsa": 100, "b.jsa": 200, "c.jsa": 300, "keep.jsa": 50,
             f"a.jsa.{dead.pid}.tmp": 0, f"a.classes.{dead.pid}.tmp": 0,
             f"a.jsa.{os.getpid()}.tmp": 0}
    for name, mtime in names.items():
        (tmp_path / name).write_bytes(b"x")
        os.utime(tmp_path / name, (mtime, mtime))
    (tmp_path / "conf").mkdir()
    session._sweep(str(tmp_path / "keep.jsa"))
    # the archive being published and the one used last before it stay, as
    # does the file of a writer still running
    assert sorted(p.name for p in tmp_path.iterdir()) == sorted(
        ["c.jsa", "keep.jsa", f"a.jsa.{os.getpid()}.tmp", "conf"])


def test_archive_kept_when_the_start_without_it_fails_too(tmp_path, monkeypatch):
    """A JVM that cannot start for another reason (a bad caller option)
    fails with and without the archive: the archive is not to blame."""
    archive = tmp_path / "k.jsa"
    archive.write_bytes(b"x")
    starts = []

    def get_or_create(self):
        starts.append(1)
        raise PySparkRuntimeError(errorClass="JAVA_GATEWAY_EXITED", messageParameters={})

    monkeypatch.setattr(session, "_shared_archive", lambda conf: str(archive))
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", get_or_create)
    with pytest.raises(PySparkRuntimeError):
        session.get_spark()
    assert len(starts) == 2
    assert archive.exists()
