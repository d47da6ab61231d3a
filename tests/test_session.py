"""Driver-heap default: min(24g, half the host's MemTotal)."""

import pytest

import phonlp_spark.pipeline.session as session


@pytest.mark.parametrize("mem_total_kb, want", [
    (16456384, "8035m"),        # 16 GB host: half its memory
    (131907000, "24576m"),      # 128 GiB host: the 24g ceiling
])
def test_driver_heap_default_follows_host_memory(tmp_path, monkeypatch,
                                                 mem_total_kb, want):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(f"MemTotal:       {mem_total_kb} kB\n"
                       "MemFree:         1000000 kB\n")
    monkeypatch.setattr(session, "_MEMINFO", str(meminfo))
    assert session._default_driver_mem() == want


def test_driver_heap_default_without_meminfo(tmp_path, monkeypatch):
    monkeypatch.setattr(session, "_MEMINFO", str(tmp_path / "absent"))
    assert session._default_driver_mem() == "24g"
