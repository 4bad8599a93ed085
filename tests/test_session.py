"""Session construction: the default driver heap is sized from the host."""

from __future__ import annotations

import os

from bigdata_capstone_spark.session import (
    DRIVER_MEM_CAP_MB,
    DRIVER_MEM_FRACTION,
    default_driver_memory,
    host_memory_bytes,
)


def _mb(spec: str) -> int:
    assert spec.endswith("m"), spec
    return int(spec[:-1])


def test_default_driver_memory_share_and_cap():
    gib = 1 << 30
    assert _mb(default_driver_memory(16 * gib)) == int(16 * 1024 * DRIVER_MEM_FRACTION)
    assert _mb(default_driver_memory(4 * gib)) < 4 * 1024
    assert _mb(default_driver_memory(512 * gib)) == DRIVER_MEM_CAP_MB


def test_driver_heap_fits_host(spark):
    """The chosen default leaves the host ~40% headroom, and the running
    driver JVM's max heap fits in the memory the host grants (a heap
    larger than that lets the JVM grow until the kernel kills it)."""
    host = host_memory_bytes()
    assert host is not None and host > 0
    default_mb = _mb(default_driver_memory())
    assert default_mb <= min(DRIVER_MEM_CAP_MB, host * DRIVER_MEM_FRACTION / (1 << 20))
    max_heap = spark._jvm.java.lang.Runtime.getRuntime().maxMemory()
    assert max_heap < host, (max_heap, host)
    if not os.environ.get("SPARK_DRIVER_MEM"):
        # the JVM rounds -Xmx up to its heap-region alignment (<= 32 MiB)
        assert max_heap <= (default_mb + 32) << 20, (max_heap, default_mb)
