from __future__ import annotations

from types import SimpleNamespace

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


def test_caller_extra_java_options_keep_the_jit_options(monkeypatch):
    """A caller's extraJavaOptions (perfbench's start_session passes its own)
    replaces get_spark's, so the JIT policy lives in defaultJavaOptions."""
    conf = {}

    def config(self, key=None, value=None, **_):
        conf[key] = value
        return self

    started = SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda _: None))
    monkeypatch.setattr(SparkSession.Builder, "config", config)
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: started)
    session.get_spark(extra_conf={"spark.driver.extraJavaOptions": "-Xms1g"})
    assert conf["spark.driver.extraJavaOptions"] == "-Xms1g"
    assert conf["spark.driver.defaultJavaOptions"] == session.JIT_OPTIONS
