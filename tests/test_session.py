"""Session-factory helpers that need no running session."""

from __future__ import annotations

import os

from advanced_data_profile_spark.session import default_driver_memory, pyarrow_path


def test_default_driver_memory_fits_the_machine():
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    heap = default_driver_memory()
    assert heap.endswith("m")
    assert 0 < int(heap[:-1]) <= min(ram_mb, 24 << 10)


def test_default_driver_memory_honors_a_cgroup_limit(tmp_path, monkeypatch):
    from advanced_data_profile_spark import session

    limit = tmp_path / "memory.max"
    monkeypatch.setattr(session, "_CGROUP_MEMORY_MAX", str(limit))
    limit.write_text("1073741824\n")
    assert default_driver_memory() == "512m"
    limit.write_text("max\n")
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    assert default_driver_memory() == f"{min(ram_mb // 2, 24 << 10)}m"


def test_pyarrow_path_maps_hadoop_schemes():
    assert pyarrow_path("file:/data/x") == "/data/x"
    assert pyarrow_path("s3a://bucket/x") == "s3://bucket/x"
    assert pyarrow_path("hdfs://nn/x") == "hdfs://nn/x"
    assert pyarrow_path("rel/x") == "rel/x"
