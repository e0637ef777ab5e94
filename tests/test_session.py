from __future__ import annotations

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
