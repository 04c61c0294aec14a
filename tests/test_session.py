"""Session defaults that must fit the host."""

from __future__ import annotations

from rippledb_spark.session import default_driver_memory


def _meminfo(tmp_path, kib: int) -> str:
    path = tmp_path / "meminfo"
    path.write_text(f"MemTotal:       {kib} kB\nMemFree:        1024 kB\n")
    return str(path)


def test_driver_memory_is_half_of_host(tmp_path):
    # a 15 GiB host gets a 7.5 GiB heap, not the 16g cap
    assert default_driver_memory(_meminfo(tmp_path, 15 * 1024 * 1024)) == "7680m"


def test_driver_memory_capped_at_16g(tmp_path):
    assert default_driver_memory(_meminfo(tmp_path, 128 * 1024 * 1024)) == "16384m"


def test_driver_memory_without_meminfo(tmp_path):
    assert default_driver_memory(str(tmp_path / "absent")) == "16384m"
