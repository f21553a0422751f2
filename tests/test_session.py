"""Session sizing: the default driver heap must fit the host."""

from __future__ import annotations

import pathlib

import pytest

from mechaml_spark.session import default_driver_memory


def test_default_driver_heap_within_mem_total():
    meminfo = pathlib.Path("/proc/meminfo")
    if not meminfo.exists():
        pytest.skip("no /proc/meminfo on this platform")
    total_kb = next(
        int(line.split()[1]) for line in meminfo.read_text().splitlines()
        if line.startswith("MemTotal:")
    )
    heap = default_driver_memory()
    assert heap.endswith("m"), heap
    assert 0 < int(heap[:-1]) * 1024 <= total_kb, (heap, total_kb)
