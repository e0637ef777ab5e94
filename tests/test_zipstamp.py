"""The stamped ``zipimporter.invalidate_caches`` (``tods_spark._zipstamp``):
no zip-directory re-read while an archive is unchanged, one re-read after it
is rewritten, and the pyspark worker path that calls it once per task."""

from __future__ import annotations

import importlib
import sys
import uuid
import zipfile
import zipimport

import pytest

import tods_spark  # noqa: F401  (installs the stamped method)
from tods_spark import _zipstamp

STAMPED = sys.version_info < (3, 12)


def _write_zip(path, modules: dict[str, str]) -> None:
    # "w" truncates the existing file: the archive keeps its inode
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def zip_reads(monkeypatch):
    """Archive paths passed to ``zipimport._read_directory``, in order."""
    reads = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@pytest.mark.skipif(not STAMPED, reason="Python >= 3.12 re-reads lazily")
def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch, zip_reads):
    tag = uuid.uuid4().hex[:8]
    mod_a, mod_b = f"zipstamp_a_{tag}", f"zipstamp_b_{tag}"
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {mod_a: "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, mod_a, raising=False)
    monkeypatch.delitem(sys.modules, mod_b, raising=False)

    assert importlib.import_module(mod_a).VALUE == 1
    assert importlib.import_module(mod_a).__file__.startswith(archive)
    assert zipimport.zipimporter.invalidate_caches \
        is _zipstamp._stamped_invalidate_caches

    # the first call has no stamp for the archive yet: one read
    del zip_reads[:]
    importlib.invalidate_caches()
    assert zip_reads.count(archive) == 1
    del zip_reads[:]
    for _ in range(3):
        importlib.invalidate_caches()
    assert archive not in zip_reads

    # rewritten in place with an extra module: one re-read, and the new
    # module imports through the re-read directory
    _write_zip(archive, {mod_a: "VALUE = 1\n", mod_b: "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert zip_reads.count(archive) == 1
    assert importlib.import_module(mod_b).VALUE == 2
    importlib.invalidate_caches()
    assert zip_reads.count(archive) == 1


@pytest.mark.skipif(not STAMPED, reason="Python >= 3.12 re-reads lazily")
def test_unreadable_archive_is_reread(tmp_path):
    """A directory read that fails leaves no stamp, so the next call reads
    again, as the stdlib method does."""
    archive = str(tmp_path / "gone.zip")
    _write_zip(archive, {"m": "X = 1\n"})
    importer = zipimport.zipimporter(archive)
    importer.invalidate_caches()
    assert archive in _zipstamp._STAMPS
    with open(archive, "wb") as f:
        f.write(b"not a zip")
    importer.invalidate_caches()
    assert importer._files == {}
    assert archive not in _zipstamp._STAMPS
    assert archive not in zipimport._zip_directory_cache


def test_python_312_keeps_stdlib_method(monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        _zipstamp.STDLIB_INVALIDATE_CACHES)
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    _zipstamp.install()
    assert zipimport.zipimporter.invalidate_caches \
        is _zipstamp.STDLIB_INVALIDATE_CACHES


@pytest.mark.skipif(STAMPED, reason="only Python >= 3.12 leaves it alone")
def test_stdlib_method_untouched_on_312():
    assert zipimport.zipimporter.invalidate_caches \
        is _zipstamp.STDLIB_INVALIDATE_CACHES


def test_worker_keeps_stamped_method_and_add_py_file(spark, tmp_path):
    from tods_spark.datagen import token_table

    def _worker_report(batches):
        """Per task: which invalidate_caches the worker runs and whether every
        zip archive it imports from carries a stamp. Nested, so it is pickled by
        value and its unpickling does not import tods_spark."""
        import os
        import sys
        import zipimport

        import pandas as pd

        zs = sys.modules.get("tods_spark._zipstamp")
        archives = {v.archive for v in sys.path_importer_cache.values()
                    if isinstance(v, zipimport.zipimporter)}
        stamps = set(zs._STAMPS) if zs is not None else set()
        for _ in batches:
            pass
        yield pd.DataFrame({
            "pid": [os.getpid()],
            "tods_loaded": [zs is not None],
            "method": [zipimport.zipimporter.invalidate_caches.__name__],
            "all_stamped": [archives <= stamps],
        })

    # a tods_spark pandas-UDF job: unpickling its UDF imports the package
    # in every worker that runs one of its tasks
    assert token_table(spark, 2000, partitions=16).count() == 2000
    rep = (spark.range(0, 16, 1, 16)
           .mapInPandas(_worker_report, "pid long, tods_loaded boolean, "
                        "method string, all_stamped boolean")
           .toPandas())
    reused = rep[rep["tods_loaded"]]
    assert len(reused) > 0, rep
    want = ("_stamped_invalidate_caches" if STAMPED else "invalidate_caches")
    assert (reused["method"] == want).all(), rep
    if STAMPED:
        assert reused["all_stamped"].all(), rep

    # a zip shipped afterwards is importable in the next task: the reason
    # the worker calls invalidate_caches at all
    name = f"zipstamp_shipped_{uuid.uuid4().hex[:8]}"
    shipped = str(tmp_path / f"{name}.zip")
    _write_zip(shipped, {name: "VALUE = 42\n"})
    spark.sparkContext.addPyFile(shipped)

    def use_shipped(batches):
        import importlib

        import pandas as pd
        value = importlib.import_module(name).VALUE
        for pdf in batches:
            yield pd.DataFrame({"v": [value] * len(pdf)})

    got = (spark.range(0, 8, 1, 4).mapInPandas(use_shipped, "v long")
           .toPandas())
    assert len(got) == 8 and (got["v"] == 42).all()
