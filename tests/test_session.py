"""session.default_driver_memory: the 24g default is capped by the host."""

from __future__ import annotations

from pdf_to_epub_spark.session import (
    DRIVER_MEMORY_GB,
    DRIVER_MEMORY_SHARE,
    default_driver_memory,
)


def _meminfo(tmp_path, total_kb: int):
    path = tmp_path / "meminfo"
    path.write_text(
        f"MemTotal:       {total_kb} kB\nMemFree:        1024 kB\n", encoding="ascii"
    )
    return str(path)


def test_small_host_caps_the_driver_heap(tmp_path):
    total_kb = 15 * 1024 * 1024  # a 15 GiB host
    got = default_driver_memory(_meminfo(tmp_path, total_kb))
    assert got == f"{int(total_kb * DRIVER_MEMORY_SHARE) // 1024}m"
    assert int(got[:-1]) < 15 * 1024


def test_large_host_keeps_the_default(tmp_path):
    got = default_driver_memory(_meminfo(tmp_path, 128 * 1024 * 1024))
    assert got == f"{DRIVER_MEMORY_GB}g"


def test_unreadable_meminfo_keeps_the_default(tmp_path):
    assert default_driver_memory(str(tmp_path / "missing")) == f"{DRIVER_MEMORY_GB}g"
    (tmp_path / "empty").write_text("", encoding="ascii")
    assert default_driver_memory(str(tmp_path / "empty")) == f"{DRIVER_MEMORY_GB}g"


def test_tiny_host_gets_a_floor(tmp_path):
    assert default_driver_memory(_meminfo(tmp_path, 512 * 1024)) == "1024m"
